"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, run length) and of
this file plus the span codec it encodes through, so the same seed
always yields byte-identical inputs.  Generated inputs are cached under
``<scratch>/cache/<workload>-s<seed>-<hash>/`` and reused by later runs
with the same key; the generation time is reported on its own, never as
part of set-up.

Spectra are built the way ``dragnet_spark.generate`` builds its
corpora -- noise, one dispersed pulse, a broadband burst (the clipper's
and the SK filter's target) and a hot channel -- encoded through the
public ``spans.encode_document``; the noise has the statistics the SK
filter models (see ``_noise_table``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np

from dragnet_spark.params import Header, MaskSpec, RunConfig
from dragnet_spark.plan import KDM
from dragnet_spark.spans import encode_document

# Bench shape (ROADMAP headline): 128 channels x 8192 uint8 samples =
# 1 MiB of raw spectrum per document.
NCHAN = 128
NSAMP = 8192
TSAMP = 0.00049152
DOC_MB = NCHAN * NSAMP / 2 ** 20

# Per-workload sizes, chosen so one pass takes seconds at local[4].
FLAGSHIP_DOCS = 64
# Every timed flagship pass reads its own shard: the same spectra under
# headers no earlier pass carried, so the per-worker plan cache never
# serves a pass from an earlier one.  Shard 0 is for the warm-ups (each
# set-up starts fresh Python workers) and the correctness check; a run
# makes at most FLAGSHIP_SHARDS - 1 timed passes.
FLAGSHIP_SHARDS = 5
GIANT_JOB_DOCS = 8
GIANT_JOB_GIANTS = 1
GIANT_FACTOR = 16            # giant documents carry 16x the samples
CURATION_DOCS = 240
NEAR_DUP_SHARE = 0.20        # share of curation docs planted as near-dups
EXACT_DUP_SHARE = 0.02
# Stream: BEAMS concurrent beams, each emitting one document as
# NSAMP // STREAM_STRIP strips, one strip per beam every STREAM_TICK_S.
STREAM_BEAMS = 4
STREAM_STRIP = 4096
STREAM_TICK_S = 0.2
STREAM_WARM_DOCS = 1         # documents per beam streamed before timing

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")

_ORDINAL = {"flagship": 1, "giant_job": 2, "curation": 3, "stream": 4}


def _noise_table(mean: float = 30.0, nskz: int = 12) -> np.ndarray:
    """Sorted quantiles of the channel power: a Gamma(nskz, mean/nskz)
    variable (the sum of ``nskz`` squared voltages the SK filter models,
    variance mean**2/nskz), rounded to uint8.  Indexing it with 16-bit
    uniforms draws from that distribution ~10x faster than a sampler.
    (Poisson noise has variance mean, far below what the SK filter
    expects, and gets every interval masked.)"""
    x = np.random.default_rng(0).gamma(float(nskz), mean / nskz, 65536)
    return np.sort(np.clip(np.rint(x), 0, 255)).astype(np.uint8)


_NOISE = _noise_table()


def generator_hash() -> str:
    """Content hash of every module that determines the generated bytes."""
    import dragnet_spark
    pkg = Path(dragnet_spark.__file__).resolve().parent
    h = hashlib.md5()
    for p in (Path(__file__).resolve(), pkg / "spans.py", pkg / "params.py",
              pkg / "plan.py"):
        h.update(p.read_bytes())
    return h.hexdigest()[:10]


def bench_header(tstart: float = 56000.123456789, nsamp: int = NSAMP) -> Header:
    return Header(nchan=NCHAN, nsamp=nsamp, tsamp=TSAMP, tstart=tstart)


def spectrum(rng: np.random.Generator, header: Header) -> np.ndarray:
    """uint8 (nsamp, nchan): noise + dispersed pulse + burst + hot channel."""
    t, nchan = header.nsamp, header.nchan
    data = _NOISE[rng.integers(0, 65536, size=(t, nchan), dtype=np.uint16)]
    dm = float(rng.uniform(5.0, 28.0))
    freqs = header.fch1 + np.arange(nchan) * header.foff
    delays = np.round(KDM * dm * (freqs ** -2.0 - header.fch1 ** -2.0)
                      / header.tsamp).astype(np.int64)
    t0 = int(rng.integers(0, max(1, t // 3)))
    rows = t0 + delays
    ok = rows < t
    cols = np.arange(nchan)[ok]
    data[rows[ok], cols] = np.minimum(data[rows[ok], cols].astype(np.int32)
                                      + 60, 255).astype(np.uint8)
    b0 = int(rng.integers(0, t - 4))
    data[b0:b0 + 4, :] = 200
    hot = int(rng.integers(0, nchan))
    hot_noise = _NOISE[rng.integers(0, 65536, size=t, dtype=np.uint16)]
    data[:, hot] = np.minimum(hot_noise.astype(np.int32) * 4, 255)
    return data


def spectrum_doc(rng: np.random.Generator, doc_id: str,
                 header: Header) -> dict:
    data = spectrum(rng, header)
    n_media = int(rng.integers(0, 4))
    media = [{"media_ref": f"img://{doc_id}/{j}", "text": f"caption {j}",
              "offset": int(p)}
             for j, p in enumerate(sorted(rng.integers(0, header.nsamp,
                                                       size=n_media)))]
    return encode_document(doc_id, header, data, media)


def run_config(workload: str) -> RunConfig:
    """The pipeline configuration each workload runs (13 DM trials,
    0..30 step 2.5, as scenario ``s3`` on the bench corpus)."""
    dms = dict(prefix="bench", dm_start=0.0, dm_end=30.0, dm_step=2.5)
    if workload == "flagship":
        return RunConfig(config_id="s3", use_skz=True, mskz=1024, **dms)
    if workload == "giant_job":
        # blocksize splits a giant into ~37 blocks and, 4 blocks per
        # chunk, into ~10 halo-extended chunks; ndec=2 puts the
        # decimation kernel on this workload's path.
        return RunConfig(config_id="giant", use_skz=True, mskz=1024,
                         ndec=2, blocksize=NSAMP, **dms)
    if workload == "stream":
        return RunConfig(config_id="stream", use_mask=True, clip_sigma=6.0,
                         use_skz=True, mskz=1024, **dms)
    raise ValueError(f"workload {workload!r} runs no pipeline config")


def stream_mask(seed: int) -> MaskSpec:
    """Seeded rfifind mask over the bench shape (8 intervals)."""
    rng = np.random.default_rng([seed, 99])
    ptsperint = NSAMP // 8
    chans_per_int: list[list[int]] = [[] for _ in range(8)]
    chans_per_int[int(rng.integers(0, 8))] = sorted(
        int(c) for c in rng.choice(NCHAN, size=3, replace=False))
    h = Header()
    return MaskSpec(
        mask_id=f"mask-s{seed}", timesigma=10.0, freqsigma=4.0,
        mjd=h.tstart, dtint=ptsperint * TSAMP,
        lofreq=h.fch1 - (NCHAN - 1) * abs(h.foff), dfreq=abs(h.foff),
        numchan=NCHAN, numint=8, ptsperint=ptsperint,
        zap_chans=[int(rng.integers(0, NCHAN))],
        zap_ints=[int(rng.integers(0, 8))], chans_per_int=chans_per_int,
        padvals=[float(v) for v in rng.uniform(25.0, 35.0, size=NCHAN)])


# --------------------------------------------------------------------------
# Per-workload generators.  Each writes into ``out`` and returns the
# workload's recorded properties.
# --------------------------------------------------------------------------

def _write_docs(docs: list[dict], path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "spans": pa.array([d["spans"] for d in docs], span_type)})
    # One row group per 8 documents keeps a scan split well below the
    # 64 MB split size the session configures.
    pq.write_table(table, path, row_group_size=8)


def _span_count(docs: list[dict]) -> int:
    """Output spans the pipeline emits for ``docs``: a timeseries and an
    .inf span per DM trial, plus every media span passed through."""
    from dragnet_spark.plan import linear_dm_list
    cfg = run_config("flagship")
    ndm = len(linear_dm_list(cfg.dm_start, cfg.dm_end, cfg.dm_step))
    return sum(2 * ndm + sum(s["kind"] == "media" for s in d["spans"])
               for d in docs)


def shard_file(k: int) -> str:
    return f"docs-{k:02d}.parquet"


def gen_flagship(seed: int, out: Path) -> dict:
    """``FLAGSHIP_SHARDS`` shards of the same spectra; every document of
    every shard is its own observation, with its own ``tstart``."""
    docs = []
    for i in range(FLAGSHIP_DOCS):
        rng = np.random.default_rng([seed, _ORDINAL["flagship"], i])
        docs.append(spectrum_doc(rng, f"f{seed}-{i:05d}", bench_header()))
    rng = np.random.default_rng([seed, _ORDINAL["flagship"]])
    tstarts = 56000.0 + rng.uniform(0, 1000, size=(FLAGSHIP_SHARDS,
                                                    FLAGSHIP_DOCS))
    for k in range(FLAGSHIP_SHARDS):
        # encode_document puts the header span first.
        _write_docs([{"doc_id": d["doc_id"], "spans": [
            {**d["spans"][0],
             "text": bench_header(tstart=float(t)).to_json()}]
            + d["spans"][1:]} for d, t in zip(docs, tstarts[k])],
            out / shard_file(k))
    return {"docs": len(docs), "shape": [NSAMP, NCHAN],
            "raw_mb": len(docs) * DOC_MB, "spans": _span_count(docs),
            "shards": FLAGSHIP_SHARDS,
            "distinct_headers": len(np.unique(tstarts)),
            "distinct_header_share": 1.0, "giant_share": 0.0}


def gen_giant_job(seed: int, out: Path) -> dict:
    n = GIANT_JOB_DOCS + GIANT_JOB_GIANTS
    order = np.random.default_rng([seed, _ORDINAL["giant_job"]]).permutation(n)
    giants = set(int(x) for x in order[:GIANT_JOB_GIANTS])
    docs, raw_mb = [], 0.0
    for i in range(n):
        rng = np.random.default_rng([seed, _ORDINAL["giant_job"], i])
        nsamp = NSAMP * GIANT_FACTOR if i in giants else NSAMP
        # One shared observation header; only nsamp differs.
        docs.append(spectrum_doc(rng, f"g{seed}-{i:05d}",
                                 bench_header(nsamp=nsamp)))
        raw_mb += NCHAN * nsamp / 2 ** 20
    _write_docs(docs, out / "docs.parquet")
    return {"docs": n, "shape": [NSAMP, NCHAN],
            "giant_shape": [NSAMP * GIANT_FACTOR, NCHAN], "raw_mb": raw_mb,
            "spans": _span_count(docs), "distinct_headers": 2,
            "giant_ids": sorted(docs[i]["doc_id"] for i in giants),
            "distinct_header_share": 2 / n, "giant_share": len(giants) / n}


def gen_curation(seed: int, out: Path) -> dict:
    """A ``documents`` table in the testdata schema with planted exact
    and near-duplicate clusters.  The duplicate counts and the multiset
    of original lengths are the same for every seed (only positions,
    words and which original is copied are drawn), so every seed's table
    has about the same size and cluster structure."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([seed, _ORDINAL["curation"]])
    n_near = round(CURATION_DOCS * NEAR_DUP_SHARE)
    n_exact = round(CURATION_DOCS * EXACT_DUP_SHARE)
    n_orig = CURATION_DOCS - n_near - n_exact
    kinds = ["orig"] * n_orig + ["near"] * n_near + ["exact"] * n_exact
    kinds[1:] = rng.permutation(kinds[1:])       # the first is an original
    lengths = iter(rng.permutation(3 + np.arange(n_orig) * 97 // n_orig))
    texts: list[str] = []
    originals: list[int] = []
    for kind in kinds:
        # Duplicates copy an original, never another duplicate: every
        # cluster is a star around its original, so its diameter (and
        # the number of connected-components rounds) is the same for
        # every seed.
        if kind == "near":
            # An original with 2-8% of its words substituted (3-shingle
            # Jaccard well above 0.5).
            words = texts[originals[int(rng.integers(0, len(originals)))]] \
                .split()
            k = max(1, int(len(words) * rng.uniform(0.02, 0.08)))
            for j in rng.choice(len(words), size=k, replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif kind == "exact":
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:
            originals.append(len(texts))
            texts.append(" ".join(VOCAB[int(j)] for j in rng.integers(
                0, len(VOCAB), size=int(next(lengths)))))
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(j)] for j in
                          rng.integers(0, len(LANGS), size=n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(table, out / "documents.parquet")
    return {"docs": n, "text_mb": sum(len(t) for t in texts) / 2 ** 20,
            "near_dup_share": n_near / n, "exact_dup_share": n_exact / n}


def stream_schedule(seconds: int) -> tuple[int, int]:
    """(warm-up documents, timed documents) for a run of ``seconds``."""
    per_doc_s = (NSAMP // STREAM_STRIP) * STREAM_TICK_S
    timed_per_beam = max(1, int(seconds / per_doc_s))
    return STREAM_WARM_DOCS * STREAM_BEAMS, timed_per_beam * STREAM_BEAMS


def gen_stream(seed: int, out: Path, seconds: int) -> dict:
    """Raw-sample strips of every streamed document, in schedule order.
    Beam b's k-th document is ``doc_index = k * BEAMS + b``; its strip
    j is due at tick ``k * strips_per_doc + j`` after the stream starts.
    The first ``STREAM_WARM_DOCS`` documents of every beam are the
    untimed warm-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    n_warm, n_timed = stream_schedule(seconds)
    spd = NSAMP // STREAM_STRIP
    header = bench_header()
    hjson = header.to_json()
    cols: dict[str, list] = {"doc_id": [], "header": [], "strip_offset": [],
                             "payload": [], "tick": []}
    for idx in range(n_warm + n_timed):
        k, b = divmod(idx, STREAM_BEAMS)
        rng = np.random.default_rng([seed, _ORDINAL["stream"], idx])
        data = spectrum(rng, header)
        for j in range(spd):
            lo = j * STREAM_STRIP
            cols["doc_id"].append(f"s{seed}-b{b}-{k:05d}")
            cols["header"].append(hjson)
            cols["strip_offset"].append(lo)
            cols["payload"].append(
                np.ascontiguousarray(data[lo:lo + STREAM_STRIP]).tobytes())
            cols["tick"].append(k * spd + j)
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.string()),
        "header": pa.array(cols["header"], pa.string()),
        "strip_offset": pa.array(cols["strip_offset"], pa.int64()),
        "payload": pa.array(cols["payload"], pa.binary()),
        "tick": pa.array(cols["tick"], pa.int64())})
    pq.write_table(table, out / "strips.parquet")
    per_doc_s = spd * STREAM_TICK_S
    return {"docs": n_warm + n_timed, "warm_docs": n_warm,
            "timed_docs": n_timed, "shape": [NSAMP, NCHAN],
            "beams": STREAM_BEAMS, "strips_per_doc": spd,
            "tick_s": STREAM_TICK_S,
            "rate_docs_per_s": STREAM_BEAMS / per_doc_s,
            "rate_mb_per_s": STREAM_BEAMS * DOC_MB / per_doc_s,
            "distinct_headers": 1,
            "distinct_header_share": 1 / (n_warm + n_timed)}


def ensure_inputs(workload: str, seed: int, seconds: int,
                  cache_root: Path) -> tuple[Path, dict, float, bool]:
    """Return (input dir, properties, generation seconds, cache hit)."""
    key = f"{workload}-s{seed}-{generator_hash()}"
    if workload == "stream":
        key += f"-t{seconds}"
    path = cache_root / key
    props_file = path / "props.json"
    if props_file.exists():
        return path, json.loads(props_file.read_text()), 0.0, True
    t0 = time.perf_counter()
    tmp = cache_root / f"{key}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    if workload == "stream":
        props = gen_stream(seed, tmp, seconds)
    else:
        props = {"flagship": gen_flagship, "giant_job": gen_giant_job,
                 "curation": gen_curation}[workload](seed, tmp)
    props["seed"] = seed
    (tmp / "props.json").write_text(json.dumps(props, sort_keys=True))
    try:
        os.rename(tmp, path)
    except OSError:                 # a concurrent run won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(cache_root, workload, keep=path)
    return path, json.loads(props_file.read_text()), \
        time.perf_counter() - t0, False


def _evict(cache_root: Path, workload: str, keep: Path,
           max_entries: int = 2) -> None:
    """Bound the cache: keep the newest ``max_entries`` inputs of a
    workload (a flagship input is ~1.4 GB on disk)."""
    entries = sorted((p for p in cache_root.glob(f"{workload}-s*")
                      if p.is_dir() and p != keep and not p.suffix == ".tmp"),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[max_entries - 1:]:
        shutil.rmtree(p, ignore_errors=True)


def read_docs(path: Path, doc_ids: list[str]) -> list[dict]:
    """The named documents from a generated documents file as
    ``{doc_id, spans}`` dicts (the oracle's input form)."""
    import pyarrow.parquet as pq
    t = pq.read_table(path, filters=[("doc_id", "in", list(doc_ids))])
    return t.to_pylist()


def doc_ids(path: Path) -> list[str]:
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()


def pick_sample(ids: list[str], seed: int, k: int) -> list[str]:
    """A seeded sample of ``k`` ids for the correctness check."""
    rng = np.random.default_rng([seed, 7])
    return sorted(ids[int(i)] for i in
                  rng.choice(len(ids), size=min(k, len(ids)), replace=False))

