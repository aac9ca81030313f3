"""Seeded input generators for the benchmark.

Every input the engine sees is made here from the benchmark seed: the
same seed gives byte-identical parquet files. Two generators:

- :func:`write_corpus` — the ``curate_batch`` training corpus (one
  parquet, one row group, the shape of the ``documents`` table) plus
  an eval table, with planted exact-duplicate clusters, near-duplicate
  pairs and eval-contaminated documents. The planted ids are returned
  as a manifest so the output checks know what must disappear.
- :func:`run_feed` — the open-loop ``curation_stream`` generator: one
  process, one thread, one small parquet file per tick at a fixed rate,
  each row stamped with the time its tick was due.

Run as a script, ``python3 perfbench/gen.py feed <args>`` starts the
stream generator (the benchmark does this itself).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shares of planted structure in the curate corpus, as fractions of the
# number of base documents.
EXACT_DUP_SHARE = 0.04  # extra exact copies of earlier documents
NEAR_DUP_SHARE = 0.04  # one-word-edit copies of single-line documents
CONTAMINATED_SHARE = 0.02  # documents carrying a 10-word eval passage
SHORT_SHARE = 0.05  # documents below the quality gate (< 15 tokens)
BOILERPLATE_SHARE = 0.15  # documents with a shared boilerplate line
N_EVAL = 40

# Stream feed mix: exact repeats of a recent row (dropped by the
# watermarked dedup), rows too short for the quality gate, rows the
# repetition filter drops, and rows with PII for the scrubber.
FEED_DUP_SHARE = 0.10
FEED_SHORT_SHARE = 0.05
FEED_REPETITIVE_SHARE = 0.03
FEED_PII_SHARE = 0.05

EPOCH = dt.datetime(1970, 1, 1)


def _vocab(n: int = 400) -> np.ndarray:
    """Fixed pseudo-word vocabulary (independent of the seed)."""
    rng = np.random.default_rng(12345)
    cons, vows = list("bcdfghjklmnprstvwz"), list("aeiou")
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k)))
    return np.array(sorted(words))


VOCAB = _vocab()


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return list(VOCAB[rng.integers(0, len(VOCAB), n)])


def _line(rng: np.random.Generator, lo: int = 8, hi: int = 20) -> str:
    return " ".join(_words(rng, int(rng.integers(lo, hi + 1))))


def _write_one_group(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_corpus(out_dir: str, seed: int, n_base: int) -> dict:
    """Write ``<out_dir>/docs/documents.parquet`` and
    ``<out_dir>/eval/documents.parquet``; return the manifest of planted
    clusters and contaminated ids."""
    rng = np.random.default_rng([seed, 1])
    boiler = [f"{_line(rng, 6, 9)} subscribe for updates" for _ in range(20)]
    eval_texts = [_line(rng, 40, 60) for _ in range(N_EVAL)]

    texts: list[str] = []
    kinds = rng.random(n_base)
    near_seed_ids: list[int] = []
    contaminated: list[int] = []
    short: list[int] = []
    # planted kinds are disjoint: short / contaminated / near-dup seed
    # (single line, 40-60 words) / ordinary multi-line document
    near_cut = NEAR_DUP_SHARE
    contam_cut = near_cut + CONTAMINATED_SHARE
    short_cut = contam_cut + SHORT_SHARE
    for i in range(n_base):
        u = kinds[i]
        if u < near_cut:
            near_seed_ids.append(i)
            texts.append(_line(rng, 40, 60))
        elif u < contam_cut:
            ev = eval_texts[int(rng.integers(0, N_EVAL))].split(" ")
            off = int(rng.integers(0, len(ev) - 10))
            span = " ".join(ev[off : off + 10])
            body = [_line(rng) for _ in range(int(rng.integers(1, 4)))]
            body[0] = f"{_line(rng, 3, 6)} {span} {_line(rng, 3, 6)}"
            texts.append("\n".join(body))
            contaminated.append(i)
        elif u < short_cut:
            texts.append(_line(rng, 4, 10))
            short.append(i)
        else:
            body = [_line(rng) for _ in range(int(rng.integers(1, 5)))]
            if rng.random() < BOILERPLATE_SHARE:
                body.insert(int(rng.integers(0, len(body) + 1)), boiler[int(rng.integers(0, len(boiler)))])
            texts.append("\n".join(body))

    ordinary = [i for i in range(n_base) if i not in set(near_seed_ids + contaminated + short)]
    exact_clusters: dict[int, list[int]] = {}
    for src in rng.choice(ordinary, int(n_base * EXACT_DUP_SHARE), replace=False):
        exact_clusters[int(src)] = [int(src)]
    near_pairs: list[list[int]] = []
    copies: list[tuple[str, str, int]] = []
    for src in exact_clusters:
        copies.append(("exact", texts[src], src))
    for src in near_seed_ids:
        toks = texts[src].split(" ")
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = "zq" + toks[pos]  # a word outside the vocabulary
        copies.append(("near", " ".join(toks), src))
    # copies get ids after every original, so the original is always the
    # lowest id of its cluster (the one dedup keeps)
    for j in rng.permutation(len(copies)):
        kind, text, src = copies[int(j)]
        new_id = len(texts)
        texts.append(text)
        if kind == "exact":
            exact_clusters[src].append(new_id)
        else:
            near_pairs.append([src, new_id])

    n = len(texts)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write_one_group(docs, os.path.join(out_dir, "docs", "documents.parquet"))
    ev = pa.table(
        {
            "doc_id": pa.array(np.arange(N_EVAL, dtype=np.int64) + 10_000_000),
            "text": pa.array(eval_texts, pa.string()),
        }
    )
    _write_one_group(ev, os.path.join(out_dir, "eval", "documents.parquet"))
    return {
        "n_docs": n,
        "n_eval": N_EVAL,
        "exact_dup_clusters": sorted(exact_clusters.values()),
        "near_dup_pairs": sorted(near_pairs),
        "contaminated_ids": contaminated,
        "short_ids": short,
        "shares": {
            "exact_dup": EXACT_DUP_SHARE,
            "near_dup": NEAR_DUP_SHARE,
            "contaminated": CONTAMINATED_SHARE,
            "short": SHORT_SHARE,
            "boilerplate": BOILERPLATE_SHARE,
        },
    }


def feed_table(seed: int, tick: int, first_id: int, n: int, due: float, recent: list[str]) -> pa.Table:
    """Rows of one feed tick. ``recent`` (texts of earlier rows, newest
    last) is read for exact repeats and extended in place."""
    rng = np.random.default_rng([seed, 3, tick])
    texts = []
    for u in rng.random(n):
        if u < FEED_DUP_SHARE and recent:
            t = recent[-1 - int(rng.integers(0, min(len(recent), 200)))]
        elif u < FEED_DUP_SHARE + FEED_SHORT_SHARE:
            t = _line(rng, 3, 7)
        elif u < FEED_DUP_SHARE + FEED_SHORT_SHARE + FEED_REPETITIVE_SHARE:
            t = " ".join(_words(rng, 3) * 8)
        elif u < FEED_DUP_SHARE + FEED_SHORT_SHARE + FEED_REPETITIVE_SHARE + FEED_PII_SHARE:
            t = f"{_line(rng, 10, 25)} mail {_words(rng, 1)[0]}@example.com or 555-{int(rng.integers(100, 999))}-1234"
        else:
            t = _line(rng, 20, 60)
        texts.append(t)
    recent.extend(texts)
    del recent[:-400]
    stamp = EPOCH + dt.timedelta(seconds=due)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array([stamp] * n, pa.timestamp("us")),
            "text": pa.array(texts, pa.string()),
        }
    )


def run_feed(in_dir: str, stage_dir: str, log_path: str, seed: int, rate: float, tick_s: float, stop_path: str) -> None:
    """Open loop: tick ``k`` is due at ``t0 + k * tick_s`` whatever the
    engine does; its rows are stamped with that due time. Files appear
    atomically (written aside, then renamed into ``in_dir``). Runs until
    ``stop_path`` exists; one JSON line per tick goes to ``log_path``."""
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    recent: list[str] = []
    t0 = time.time()
    next_id, owed, k = 0, 0.0, 0
    with open(log_path, "w") as log:
        while not os.path.exists(stop_path):
            due = t0 + k * tick_s
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            owed += rate * tick_s
            n = int(owed)
            owed -= n
            if n:
                tbl = feed_table(seed, k, next_id, n, due, recent)
                name = f"part-{k:06d}.parquet"
                pq.write_table(tbl, os.path.join(stage_dir, name))
                os.replace(os.path.join(stage_dir, name), os.path.join(in_dir, name))
                log.write(json.dumps({"k": k, "due": due, "done": time.time(), "first_id": next_id, "n": n}) + "\n")
                log.flush()
                next_id += n
            k += 1


if __name__ == "__main__":
    if len(sys.argv) != 9 or sys.argv[1] != "feed":
        sys.exit("usage: gen.py feed IN_DIR STAGE_DIR LOG SEED RATE TICK_S STOP_FILE")
    _, _, a_in, a_stage, a_log, a_seed, a_rate, a_tick, a_stop = sys.argv
    run_feed(a_in, a_stage, a_log, int(a_seed), float(a_rate), float(a_tick), a_stop)
