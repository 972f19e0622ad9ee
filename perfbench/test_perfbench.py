"""Tests of the benchmark itself, at its own input sizes with a
one-second window (one job per pass).

    python3 -m pytest perfbench -q

Each test runs the benchmark in a fresh process (its own Spark session),
so the suite takes several minutes.
"""

import json
import os
import subprocess
import sys
import textwrap

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHORT = ["--seconds", "1"]


def bench(workload: str, trace: int, patch: str = "") -> dict:
    """Run the benchmark (after executing `patch` in its process) and
    return the parsed last line of its output."""
    code = textwrap.dedent(f"""
        import sys
        sys.path[:0] = [{HERE!r}, {ROOT!r}]
        import run
        import workloads as W
        {textwrap.indent(textwrap.dedent(patch), ' ' * 8).strip()}
        sys.exit(run.main({["--workload", workload, "--seed", "3",
                            "--trace", str(trace), *SHORT]!r}))
    """)
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, text=True,
                       capture_output=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_smoke_prints_every_metric_with_its_unit():
    # join_shuffle is not in BENCHMARK.json but runs with the same command
    for workload, trace, kind in (("wide_fused", 0, "end_to_end"),
                                  ("wide_fused", 1, "per_layer"),
                                  ("join_shuffle", 0, "end_to_end")):
        res = bench(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0
        assert res["attempted"] >= 1 + trace  # traced: 1 plain + 1 traced
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == declared(kind)
        assert all(isinstance(v["value"], (int, float))
                   for v in res["metrics"].values())
        if trace:
            assert res["metrics"]["areadist_fused.build_s"]["value"] > 0
            assert res["metrics"]["areadist.corrections_rows"]["value"] > 0


def test_resume_smoke():
    res = bench("resume_half", 0)
    assert res["correct"] and res["failed"] == 0
    m = res["metrics"]
    assert 0 < m["resume_s"]["value"] < m["job_s"]["value"]


def test_corrupted_output_row_counts_as_failed():
    patch = """
        import glob, os
        import pandas as pd
        job = W.WideFused.job
        def corrupt(self, spark, tr, out_dir):
            info = job(self, spark, tr, out_dir)
            df = pd.read_parquet(out_dir)
            row = df.index[df["PKEY"] == self.sample_keys[0]]
            df.loc[row, "L03_AREA565"] += 1.0
            for f in glob.glob(os.path.join(out_dir, "*")):
                os.remove(f)
            df.to_parquet(os.path.join(out_dir, "part-0.parquet"))
            return info
        W.WideFused.job = corrupt
    """
    res = bench("wide_fused", 1, patch)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 2
    assert res["metrics"]["ops_failed_frac"]["value"] == 1.0


def test_resume_that_reruns_a_committed_bucket_fails():
    patch = """
        import os
        real = W.extract_with_resume
        def forgetful(spark, pts, polys, out_dir, max_buckets_this_run=None,
                      **kw):
            if max_buckets_this_run is None:  # the resume loses its lineage
                os.remove(os.path.join(out_dir, "_lineage", "manifest.jsonl"))
            return real(spark, pts, polys, out_dir,
                        max_buckets_this_run=max_buckets_this_run, **kw)
        W.extract_with_resume = forgetful
    """
    res = bench("resume_half", 1, patch)
    assert not res["correct"]
    assert res["failed"] == res["attempted"]
    assert res["metrics"]["lineage.buckets_rerun"]["value"] >= 1
