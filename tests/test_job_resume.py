"""Checkpoint/resume semantics (north_rule): kill after k partitions,
resume, and the final table must be identical to a single uninterrupted
run — with exactly one lineage row per partition."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from paddleocr_spark.plans.job import run_extract_job


def _read_sorted(spark, out_dir):
    return (
        spark.read.parquet(os.path.join(out_dir, "extracted"))
        .select("url", "extracted_text", "n_blocks_kept")
        .orderBy("url")
        .collect()
    )


def test_resume_after_partial_run(spark, smoke_dir, tmp_path):
    inp = os.path.join(smoke_dir, "pages.parquet")
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "partial")

    full = run_extract_job(spark, inp, full_dir, n_partitions=8, salt=2)
    assert full["parts_processed"] == 8

    # simulated failure after 3 partitions
    first = run_extract_job(
        spark, inp, part_dir, n_partitions=8, salt=2, only_first_parts=3
    )
    assert first["parts_processed"] == 3
    assert first["rows_out"] < full["rows_out"]

    resumed = run_extract_job(spark, inp, part_dir, n_partitions=8, salt=2, resume=True)
    assert resumed["parts_done_before"] == 3
    assert resumed["parts_processed"] == 5
    assert resumed["rows_out"] == full["rows_out"]

    assert _read_sorted(spark, part_dir) == _read_sorted(spark, full_dir)

    # exactly one lineage row per partition across both runs
    lin = spark.read.parquet(os.path.join(part_dir, "lineage"))
    dups = lin.groupBy("part_id").count().filter(F.col("count") > 1).count()
    assert dups == 0 and lin.count() == 8


def test_resume_on_complete_output_is_noop(spark, smoke_dir, tmp_path):
    inp = os.path.join(smoke_dir, "pages.parquet")
    out = str(tmp_path / "out")
    first = run_extract_job(spark, inp, out, n_partitions=4, salt=2)
    again = run_extract_job(spark, inp, out, n_partitions=4, salt=2, resume=True)
    assert again["parts_processed"] == 0
    assert again["parts_done_before"] == 4
    assert again["rows_out"] == first["rows_out"]


def test_resume_wet_export_runs_after_completion(spark, smoke_dir, tmp_path):
    """A `--resume --wet-out` rerun after extraction already completed
    must still export WET members from the committed output instead of
    silently skipping (r4 ADVICE: the export was gated on
    parts_processed being non-empty)."""
    inp = os.path.join(smoke_dir, "pages.parquet")
    out = str(tmp_path / "out")
    wet = str(tmp_path / "wet")
    run_extract_job(spark, inp, out, n_partitions=4, salt=2)
    again = run_extract_job(
        spark, inp, out, n_partitions=4, salt=2, resume=True, wet_out=wet
    )
    assert again["parts_processed"] == 0
    assert again.get("wet_files", 0) > 0 and "wet_skipped" not in again
    assert [f for f in os.listdir(wet) if ".warc.wet" in f]

    # no committed output at all -> the skip is reported, not silent
    empty = run_extract_job(
        spark,
        inp,
        str(tmp_path / "never_ran"),
        n_partitions=4,
        salt=2,
        resume=True,
        only_first_parts=0,
        wet_out=str(tmp_path / "wet2"),
    )
    assert empty["parts_processed"] == 0
    assert "wet_files" not in empty and empty["wet_skipped"]


def test_partition_balance_under_host_skew(spark, smoke_dir, tmp_path):
    """Zipf-skewed hosts in the input must still yield balanced logical
    partitions (url-hash, not host-hash) — the lineage row counts are
    the evidence the 100 TB design leans on."""
    import os

    out = str(tmp_path / "bal")
    run_extract_job(
        spark, os.path.join(smoke_dir, "pages.parquet"), out, n_partitions=8, salt=2
    )
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    counts = [r["row_count"] for r in lin.collect()]
    assert len(counts) == 8
    # 300 docs over 8 parts: binomial spread, no part should be empty or 3x mean
    assert min(counts) > 0 and max(counts) < 3 * (sum(counts) / len(counts))


def test_fused_mode_job_identical_output(spark, smoke_dir, tmp_path):
    """mode="fused" (the default, single Arrow stage) writes a table
    identical to the mode="array" cross-check job at the job surface
    (partitioned write + lineage included)."""
    inp = os.path.join(smoke_dir, "pages.parquet")
    a_dir = str(tmp_path / "array_mode")
    f_dir = str(tmp_path / "fused_mode")

    a = run_extract_job(spark, inp, a_dir, mode="array", n_partitions=4, salt=2)
    f = run_extract_job(spark, inp, f_dir, mode="fused", n_partitions=4, salt=2)
    assert a["rows_out"] == f["rows_out"] > 0

    ra = _read_sorted(spark, a_dir)
    rf = _read_sorted(spark, f_dir)
    assert [tuple(x) for x in ra] == [tuple(x) for x in rf]


def test_blocklist_prunes_before_parsing(spark, smoke_dir, tmp_path):
    """--blocklist semantics: blocked hosts never appear in the output,
    every other url's extraction is byte-identical to the unfiltered
    run, and the gate is a broadcast anti-join (never a shuffle join,
    never a Python stage) applied before the Arrow UDF."""
    from paddleocr_spark.plans.job import apply_host_blocklist, parse_blocklist

    inp = os.path.join(smoke_dir, "pages.parquet")
    blocked = ["host0.example", "HOST1.example"]  # case-insensitive

    base_dir = str(tmp_path / "base")
    gated_dir = str(tmp_path / "gated")
    base = run_extract_job(spark, inp, base_dir, n_partitions=8, salt=2)
    gated = run_extract_job(
        spark, inp, gated_dir, n_partitions=8, salt=2, blocked_hosts=blocked
    )
    assert gated["rows_out"] < base["rows_out"]

    rows = {r["url"]: r for r in _read_sorted(spark, gated_dir)}
    hosts = {u.split("/")[2].lower() for u in rows}
    assert not hosts & {"host0.example", "host1.example"}
    for r in _read_sorted(spark, base_dir):
        host = r["url"].split("/")[2].lower()
        if host not in ("host0.example", "host1.example"):
            assert rows[r["url"]]["extracted_text"] == r["extracted_text"]
        else:
            assert r["url"] not in rows

    pages = spark.read.parquet(inp)
    plan = (
        apply_host_blocklist(spark, pages, blocked)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan and "Python" not in plan, plan

    # CLI forms: comma list and file (with comments/blank lines)
    assert parse_blocklist("a.com, b.com") == ["a.com", "b.com"]
    blf = tmp_path / "bl.txt"
    blf.write_text("# comment\na.com\n\nb.com\n")
    assert parse_blocklist(str(blf)) == ["a.com", "b.com"]
    assert parse_blocklist(None) == []


def _files_per_part(out_dir):
    data = os.path.join(out_dir, "extracted")
    return {
        d: len([f for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet")])
        for d in os.listdir(data)
        if d.startswith("part_id=")
    }


def test_one_task_and_file_per_part(spark, smoke_dir, tmp_path, monkeypatch):
    """Each logical part is routed straight to its own shuffle partition
    (repartitionById, no hash exchange), so the default job writes one
    file per part_id directory and salt=k splits a part over k files
    without changing any url's text."""
    from paddleocr_spark.plans import job

    inp = os.path.join(smoke_dir, "pages.parquet")
    frames = []

    def recording(df, cfg):
        out = job.extract_fused(df, cfg)
        frames.append(out)
        return out

    monkeypatch.setitem(job._EXTRACTORS, "fused", recording)
    one_dir = str(tmp_path / "salt1")
    run_extract_job(spark, inp, one_dir, n_partitions=8)
    assert _files_per_part(one_dir) == {f"part_id={k}": 1 for k in range(8)}

    plan = frames[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("shufflepartitionidpassthrough") == 1, plan
    below = plan[plan.index("MapInPandas"):]
    assert "Exchange hashpartitioning" not in below, plan

    two_dir = str(tmp_path / "salt2")
    run_extract_job(spark, inp, two_dir, n_partitions=8, salt=2)
    counts = _files_per_part(two_dir)
    assert len(counts) == 8 and max(counts.values()) <= 2, counts
    assert _read_sorted(spark, two_dir) == _read_sorted(spark, one_dir)
