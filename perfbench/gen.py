"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed gives
byte-identical files. Page rows reuse the content functions of
``logflow_spark.fixtures.pages`` (sentences, host names, schema, the flush
sentinel); only the seeded draws (which host, which event time, which rows
are late or duplicated) live here.

Replay inputs are ordered by file name. Spark's file stream source orders by
mtime, so ``stamp_mtimes`` sets strictly increasing mtimes in name order and
``verify_mtimes`` refuses to run when they are not: a tree copied with
``cp -r`` collapses them and silently reorders the replay.

Run as a script, this module is the open-loop generator of
``window_openloop``: one single-threaded process that writes one pages file
per tick on a fixed schedule, whether or not the engine keeps up.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from logflow_spark.fixtures import pages as fx_pages

MIN_US = 60 * 1_000_000
HOUR_US = 60 * MIN_US


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per purpose, so adding a draw to one input
    # never shifts another
    return np.random.default_rng([seed, sum(map(ord, stream))])


def host_name(k: int) -> str:
    return fx_pages.host_for(k, n_hosts=k + 1)


def pages_frame(
    ids: np.ndarray,
    hosts: np.ndarray,
    ts_us: np.ndarray,
    langs: np.ndarray,
    with_text: bool,
) -> pd.DataFrame:
    """Pages rows in the fixture's shape (url, warc_ts, html, text, lang)."""
    urls, htmls, texts = [], [], []
    for i, k in zip(ids.tolist(), hosts.tolist()):
        s0, s1 = fx_pages.sentence(i, 0), fx_pages.sentence(i, 1)
        title = f"doc {i}"
        htmls.append(
            f"<html><head><title>{title}</title></head>"
            f"<body><p>{s0}</p><p>{s1}</p></body></html>".encode("utf-8")
        )
        texts.append(f"{title}\n{s0}\n{s1}" if with_text else None)
        urls.append(f"https://{host_name(k)}/p/{i}")
    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype="object"),
            "warc_ts": pd.Series(np.asarray(ts_us, dtype="int64").view("datetime64[us]")),
            "html": pd.Series(htmls, dtype="object"),
            "text": pd.Series(texts, dtype="object"),
            "lang": pd.Series([fx_pages.LANGS[x] for x in langs.tolist()], dtype="object"),
        }
    )


def write_pages(path: str, df: pd.DataFrame) -> None:
    tbl = pa.Table.from_pandas(df, schema=fx_pages.ARROW_SCHEMA, preserve_index=False)
    pq.write_table(tbl, path, compression="zstd")


def _write_flush(path: str) -> None:
    pq.write_table(fx_pages.flush_sentinel_table(), path, compression="zstd")


# -- replay-order guard -------------------------------------------------------


def _replay_files(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def stamp_mtimes(d: str) -> None:
    """Give the replay files of ``d`` strictly increasing mtimes in name
    order, one second apart, ending in the past."""
    names = _replay_files(d)
    base = time.time() - len(names) - 10
    for k, name in enumerate(names):
        os.utime(os.path.join(d, name), (base + k, base + k))


def verify_mtimes(d: str) -> None:
    """Raise unless name order equals strict mtime order at 1 ms resolution
    (the resolution Spark's file source orders by)."""
    names = _replay_files(d)
    ms = [os.stat(os.path.join(d, n)).st_mtime_ns // 1_000_000 for n in names]
    bad = [n for n, a, b in zip(names[1:], ms, ms[1:]) if b <= a]
    if bad:
        raise RuntimeError(
            f"replay inputs in {d} are not in strict name-order mtime order "
            f"(first offender {bad[0]}); the file source would reorder them"
        )


# -- closed-loop replay inputs --------------------------------------------------

EXTRACT = dict(rows=40_000, files=2, hosts=100, span_us=HOUR_US, warm_rows=8_000)


def gen_extract_drain(seed: int, out: str, warm: bool = False) -> dict:
    """Pages with ``text`` nulled over ~100 uniform hosts, in a few large
    files; the last one also holds the flush sentinel that closes every
    window. ``warm`` makes the small input of the warm-up drains instead."""
    p = EXTRACT
    rng = _rng(seed, "extract_warm" if warm else "extract_drain")
    n = p["warm_rows"] if warm else p["rows"]
    ids = seed * 10_000_000 + np.arange(n)
    hosts = rng.integers(0, p["hosts"], n)
    ts = fx_pages.BASE_TS_US + rng.integers(0, p["span_us"], n)
    langs = rng.integers(0, len(fx_pages.LANGS), n)
    files = 1 if warm else p["files"]
    per = n // files
    os.makedirs(out)
    for c in range(files):
        sl = slice(c * per, (c + 1) * per)
        tbl = pa.Table.from_pandas(
            pages_frame(ids[sl], hosts[sl], ts[sl], langs[sl], with_text=False),
            schema=fx_pages.ARROW_SCHEMA, preserve_index=False,
        )
        if c == files - 1:
            # the flush sentinel rides in the last file: one batch fewer
            # than a file of its own, same windows emitted
            tbl = pa.concat_tables([tbl, fx_pages.flush_sentinel_table()])
        pq.write_table(tbl, os.path.join(out, f"chunk-{c:05d}.parquet"), compression="zstd")
    return {"docs": n, "files": files}


# -- curation corpus --------------------------------------------------------------

CURATE = dict(docs=2400, dup_frac=0.12, overlap_frac=0.05, pii_frac=0.3,
              junk_frac=0.08, eval_every=29)
_STOP = ("the", "a", "of", "and", "to", "in", "is", "it")
_WORDS = tuple(f"w{k:03d}" for k in range(600))


def gen_curate_batch(seed: int, out: str) -> dict:
    """A documents table (doc_id, text, lang, source, n_chars) with planted
    near-duplicates, eval-overlap snippets, PII, and short or non-English
    junk that the quality gate must drop."""
    p = CURATE
    rng = _rng(seed, "curate_batch")
    n = p["docs"]
    id0 = seed * 1_000_000
    # eval_snippets draws the eval set from doc_id % eval_every == 0
    first_eval = (-id0) % p["eval_every"]
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < p["dup_frac"]:
            # near-duplicate of an earlier doc: one appended token keeps the
            # shingle Jaccard near 0.98; the pipeline's fixed affine minhash
            # still misses the odd pair, and the reference misses it too
            texts.append(texts[int(rng.integers(0, i))] + " " + _WORDS[int(rng.integers(0, 600))])
            langs.append("en")
            continue
        if r < p["dup_frac"] + p["junk_frac"]:
            # fails the gate: too short, or no English stopwords
            k = int(rng.integers(5, 15))
            texts.append(" ".join(_WORDS[x] for x in rng.integers(0, 600, k).tolist()))
            langs.append("xx")
            continue
        k = int(rng.integers(40, 90))
        words = [
            _STOP[x % 8] if x < 160 else _WORDS[x]
            for x in rng.integers(0, 600, k).tolist()
        ]
        if rng.random() < p["overlap_frac"] and i > first_eval:
            # eval overlap: splice in the first 30 tokens of an eval doc
            k = int(rng.integers(0, (i - first_eval - 1) // p["eval_every"] + 1))
            words[5:5] = texts[first_eval + k * p["eval_every"]].split(" ")[:30]
        if rng.random() < p["pii_frac"]:
            u = int(rng.integers(0, 10_000))
            words += [
                "contact", f"user{u}@example.com", "from",
                f"10.{u % 256}.{u // 256 % 256}.7", "ref", str(1_000_000 + u * 37),
            ]
        texts.append(" ".join(words))
        langs.append("en")
    ids = np.arange(n, dtype=np.int64) + id0
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{x}" for x in rng.integers(0, 4, n).tolist()]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out)
    pq.write_table(tbl, os.path.join(out, "documents.parquet"), compression="zstd")
    return {"docs": n}


# -- open loop ----------------------------------------------------------------------

OPENLOOP = dict(rate=1500, tick_s=0.1, compress=600, hosts=10_000, late_frac=0.01,
                jitter_us=30 * 1_000_000, late_by_us=2 * HOUR_US)
PRIMER_FILES = 2


def openloop_tick(seed: int, tick: int) -> tuple[pd.DataFrame, int]:
    """Rows of tick ``tick`` and how many of them are planted late.

    Event time tracks the tick's due time, compressed ``compress`` times, with
    on-time disorder below the watermark. Late rows sit ``late_by_us`` before
    their nominal time: older than every watermark the query has after its
    primer batches, so the engine must drop each one. A late row gets a host
    of its own, so no two late rows share a (window, host, lang) cell."""
    p = OPENLOOP
    rng = _rng(seed * 1_000_003 + tick, "openloop")
    n = int(round(p["rate"] * p["tick_s"]))
    nominal = fx_pages.BASE_TS_US + int(tick * p["tick_s"] * p["compress"] * 1_000_000)
    ts = nominal - rng.integers(0, p["jitter_us"], n)
    hosts = rng.integers(0, p["hosts"], n)
    late = rng.random(n) < p["late_frac"]
    n_late = int(late.sum())
    ts[late] -= p["late_by_us"]
    # late hosts live above the on-time pool, unique per (tick, slot)
    hosts[late] = p["hosts"] + tick * n + np.flatnonzero(late)
    ids = (seed * 100_000 + tick) * 10_000 + np.arange(n)
    langs = rng.integers(0, len(fx_pages.LANGS), n)
    return pages_frame(ids, hosts, ts, langs, with_text=True), n_late


def write_primer(seed: int, out: str, k: int) -> None:
    """Primer file ``k``: one on-time row before the generator starts. The
    query must have committed two data batches before any late row arrives,
    because the engine drops rows against the previous batch's watermark."""
    ids = np.array([seed * 100_000 * 10_000 - 1 - k])
    df = pages_frame(ids, np.array([k]), np.array([fx_pages.BASE_TS_US + k * 1_000_000]),
                     np.array([0]), with_text=True)
    write_pages(os.path.join(out, f"a-primer-{k}.parquet"), df)


def run_openloop(seed: int, out: str, seconds: float, manifest: str) -> None:
    """Write one file per tick for ``seconds``, then the flush sentinel, then
    the manifest (per file: due time, write time, rows, late rows)."""
    p = OPENLOOP
    n_ticks = int(round(seconds / p["tick_s"]))
    t0 = time.time()
    files = []
    for tick in range(n_ticks + 1):
        due = t0 + tick * p["tick_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"b-tick-{tick:06d}.parquet"
        tmp = os.path.join(out, "." + name)
        if tick < n_ticks:
            df, n_late = openloop_tick(seed, tick)
            write_pages(tmp, df)
            rows = len(df)
        else:
            name = "c-flush.parquet"
            tmp = os.path.join(out, "." + name)
            _write_flush(tmp)
            rows, n_late = 1, 0
        # rename: the file source never sees a half-written file
        os.rename(tmp, os.path.join(out, name))
        files.append({"name": name, "due": due, "written": time.time(),
                      "rows": rows, "late": n_late})
    man = {"t0": t0, "tick_s": p["tick_s"], "files": files}
    try:
        verify_mtimes(out)
    except RuntimeError as e:
        man["error"] = str(e)
    with open(manifest + ".tmp", "w") as f:
        json.dump(man, f)
    os.rename(manifest + ".tmp", manifest)


GENERATORS = {
    "extract_drain": gen_extract_drain,
    "curate_batch": gen_curate_batch,
}


def main() -> None:
    ap = argparse.ArgumentParser(description="window_openloop generator process")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--manifest", required=True)
    a = ap.parse_args()
    run_openloop(a.seed, a.out, a.seconds, a.manifest)


if __name__ == "__main__":
    main()
