"""The benchmark's own tests (no Spark): ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

import gen
from spans import _metric_value
from stats import highest_supported, percentile, self_times


def _bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    for name in ("a", "b"):
        gen.write_corpus(str(tmp_path / name), 7, 300)
        recent: list[str] = []
        for k in range(5):
            tbl = gen.feed_table(7, k, k * 50, 50, 1_700_000_000.0 + k, recent)
            os.makedirs(tmp_path / name / "feed", exist_ok=True)
            pq.write_table(tbl, str(tmp_path / name / "feed" / f"{k}.parquet"))
    a, b = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "b"))
    assert sorted(a) == sorted(b) and len(a) == 7
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 7, 300)
    gen.write_corpus(str(tmp_path / "b"), 8, 300)
    assert _bytes(str(tmp_path / "a")) != _bytes(str(tmp_path / "b"))


def test_corpus_plants_what_the_manifest_records(tmp_path):
    m = gen.write_corpus(str(tmp_path), 3, 1000)
    docs = pq.read_table(str(tmp_path / "docs" / "documents.parquet"))
    assert pq.ParquetFile(str(tmp_path / "docs" / "documents.parquet")).metadata.num_row_groups == 1
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    assert len(text) == m["n_docs"]
    assert m["exact_dup_clusters"] and m["near_dup_pairs"] and m["contaminated_ids"]
    for cl in m["exact_dup_clusters"]:
        assert len({text[i] for i in cl}) == 1 and cl[0] == min(cl)
    for a, b in m["near_dup_pairs"]:
        ta, tb = text[a].split(" "), text[b].split(" ")
        assert a < b and len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 1
    evals = pq.read_table(str(tmp_path / "eval" / "documents.parquet"))["text"].to_pylist()
    for i in m["contaminated_ids"]:
        words = text[i].split()
        grams = {" ".join(words[j : j + 10]) for j in range(len(words) - 9)}
        assert any(g in e for g in grams for e in evals)


def test_percentile_needs_ten_samples_beyond():
    vals = [float(i) for i in range(1, 20)]  # 19 samples: 9 beyond the median
    assert percentile(vals, 50) is None
    vals.append(20.0)  # 20 samples: 10 beyond rank 10
    assert percentile(vals, 50) == 10.0
    assert percentile([float(i) for i in range(99)], 90) is None
    hundred = [float(i) for i in range(1, 101)]
    assert percentile(hundred, 90) == 90.0
    assert highest_supported(20) == 50
    assert highest_supported(100) == 90
    assert highest_supported(19) is None or highest_supported(19) < 50
    assert highest_supported(5) is None


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_nested():
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 4), _span(2, 1, 2, 3), _span(3, 0, 5, 9)]
    st = self_times(spans)
    assert st == {0: 3, 1: 2, 2: 1, 3: 4}
    assert sum(st.values()) == 10  # a properly nested tree partitions the root


def test_self_time_overlapping_children_counted_once():
    # two concurrent children overlap in [3, 5]; one sticks out past the parent
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 5), _span(2, 0, 3, 12)]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)  # covered: union [1, 10] clipped = 9
    assert st[1] == pytest.approx(4.0) and st[2] == pytest.approx(9.0)


def test_formatted_sql_metrics_parse_to_base_units():
    assert _metric_value("1,234") == 1234
    assert _metric_value("total (min, med, max (stageId: taskId))\n12.0 MiB (1.0 MiB, 4.0 MiB, 7.0 MiB (stage 3.0: task 7))") == 12 * 2**20
    assert _metric_value("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 0.5 s, 1.0 s (stage 1.0: task 2))") == 1.5
    assert _metric_value("total (min, med, max (stageId: taskId))\n250 ms (10 ms, 20 ms, 30 ms (stage 1.0: task 2))") == 0.25


def test_work_dir_removes_dirs_of_dead_runs_only(tmp_path):
    import run

    base = tmp_path / ".perfbench_work"
    dead = next(p for p in range(4_194_303, 0, -1) if not os.path.exists(f"/proc/{p}"))
    (base / f"curate_batch-1-{dead}" / "docs").mkdir(parents=True)
    (base / f"curate_batch-2-{os.getppid()}").mkdir()
    work = run.work_dir(str(tmp_path), "curation_stream-3")
    assert sorted(os.listdir(base)) == sorted([f"curate_batch-2-{os.getppid()}", os.path.basename(work)])
    assert os.path.basename(work) == f"curation_stream-3-{os.getpid()}"
