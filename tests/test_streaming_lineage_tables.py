"""Structured Streaming (windowed agg == batch oracle; watermark
dedup), iceberg-lite snapshots/time-travel, and checkpoint/resume
lineage."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from extract_sf_r_parallel_spark.data import synth
from extract_sf_r_parallel_spark.sources.lineage import LineageManifest, extract_with_resume
from extract_sf_r_parallel_spark.sources.tables import IceLiteTable
from extract_sf_r_parallel_spark.streaming import events as SE

from .conftest import GEOTAGGED_SCHEMA, LAYER_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def _events_dir(tmp_path) -> str:
    """File-source streams watch a directory; stage the events file."""
    d = tmp_path / "events_src"
    d.mkdir(exist_ok=True)
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_windowed_counts_match_batch(spark, tmp_path):
    stream = SE.read_events_stream(spark, _events_dir(tmp_path))
    agg = SE.windowed_counts(stream)
    SE.run_available_now(agg, "win_counts", str(tmp_path / "ck"),
                         output_mode="complete")
    got = spark.table("win_counts").toPandas()
    want = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .toPandas()
    )
    g = got.sort_values(["hour", "event_type"]).reset_index(drop=True)
    w = want.sort_values(["hour", "event_type"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["n"].to_numpy() == w["n"].to_numpy()).all()
    assert (g["sum_value"].to_numpy() == w["sum_value"].to_numpy()).all()


def test_stream_dedup(spark, tmp_path):
    stream = SE.read_events_stream(spark, _events_dir(tmp_path))
    SE.run_available_now(SE.dedup_stream(stream), "dedup_ev", str(tmp_path / "ck2"))
    n = spark.table("dedup_ev").count()
    n_src = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_ids = spark.read.parquet(f"{SF_DIR}/events.parquet") \
        .select("event_id").distinct().count()
    assert n <= n_src and n >= n_ids * 0.99


def test_icelite_snapshots_and_time_travel(spark, tmp_path):
    t = IceLiteTable(str(tmp_path / "tbl"))
    df1 = spark.range(10).withColumn("part", F.pmod("id", F.lit(2)).cast("int"))
    df2 = spark.range(10, 25).withColumn("part", F.pmod("id", F.lit(2)).cast("int"))
    s0 = t.append(df1, partition_by=("part",))
    s1 = t.append(df2, partition_by=("part",))
    assert t.read(spark).count() == 25
    assert t.read(spark, snapshot_id=s0["snapshot_id"]).count() == 10
    assert s1["parent"] == s0["snapshot_id"]
    t.overwrite(df2)
    assert t.read(spark).count() == 15
    assert len(t.snapshots()) == 3


def test_extract_with_resume(spark, tmp_path):
    images = synth.geotag_images_pdf(synth.images_pdf(60))
    layers = synth.footprint_layers_pdf(120)
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA) \
        .select("PKEY", "SS", "YEAR", "x", "y")
    pls = spark.createDataFrame(layers, LAYER_SCHEMA)
    out = str(tmp_path / "extract")

    # run 1: interrupted after 2 of 4 buckets
    r1 = extract_with_resume(spark, pts, pls, out, n_buckets=4,
                             max_buckets_this_run=2)
    assert len(r1["ran"]) == 2
    # run 2: resumes, skips the committed buckets
    r2 = extract_with_resume(spark, pts, pls, out, n_buckets=4)
    assert sorted(r2["skipped"]) == sorted(r1["ran"])
    assert len(r2["ran"]) == 2

    merged = spark.read.parquet(*[os.path.join(out, f"bucket={b}") for b in range(4)])
    single = __import__(
        "extract_sf_r_parallel_spark.operators.areadist",
        fromlist=["areadist"]).areadist(pts, pls)
    assert merged.count() == single.count() == 60 * 3
    # identical content bucket-join vs single-shot, every metric column
    cols = [c for c in single.columns
            if c.startswith(("AREA", "PROP", "MEANAGE_")) or c == "NEAR_DIST"]
    assert len(cols) == 7
    m = merged.select("PKEY", "layer", *cols).toPandas() \
        .sort_values(["PKEY", "layer"]).reset_index(drop=True)
    s = single.select("PKEY", "layer", *cols).toPandas() \
        .sort_values(["PKEY", "layer"]).reset_index(drop=True)
    for c in cols:
        np.testing.assert_array_equal(m[c].to_numpy(float),
                                      s[c].to_numpy(float), err_msg=c)

    # manifest carries the metrics
    man = LineageManifest(os.path.join(out, "_lineage", "manifest.jsonl"))
    recs = man.completed()
    assert len(recs) == 4
    assert sum(r["rows_in"] for r in recs.values()) == 60
    assert all(r["rows_out"] == r["rows_in"] * 3 for r in recs.values())


def test_extract_with_resume_builds_features_once_per_call(
        spark, tmp_path, monkeypatch):
    """The correction build depends on the layer table alone: one per
    extract_with_resume call (not per bucket), and none shared across
    calls — a resume pays its own."""
    from extract_sf_r_parallel_spark.operators import areadist as A

    calls = []
    real = A.dissolve_corrections_df

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(A, "dissolve_corrections_df", counting)
    images = synth.geotag_images_pdf(synth.images_pdf(24))
    pts = spark.createDataFrame(images, GEOTAGGED_SCHEMA) \
        .select("PKEY", "SS", "YEAR", "x", "y")
    pls = spark.createDataFrame(synth.footprint_layers_pdf(40), LAYER_SCHEMA)
    out = str(tmp_path / "extract_once")
    r1 = extract_with_resume(spark, pts, pls, out, n_buckets=4,
                             max_buckets_this_run=2)
    assert len(r1["ran"]) == 2 and len(calls) == 1
    r2 = extract_with_resume(spark, pts, pls, out, n_buckets=4)
    assert len(r2["ran"]) == 2 and len(calls) == 2
    # nothing left to run: no build at all
    r3 = extract_with_resume(spark, pts, pls, out, n_buckets=4)
    assert r3["ran"] == [] and len(r3["skipped"]) == 4 and len(calls) == 2


def test_manifest_skips_torn_final_line(tmp_path):
    """A crash inside commit() can leave a half-written last line: that
    bucket counts as not committed (it reruns), the rest still load."""
    man = LineageManifest(str(tmp_path / "_lineage" / "manifest.jsonl"))
    man.commit(0, rows_in=3)
    man.commit(1, rows_in=4)
    with open(man.path, "a") as f:
        f.write('{"bucket": 2, "rows_')
    assert sorted(man.completed()) == [0, 1]
    assert man.completed()[1]["rows_in"] == 4
    # the rerun's commit replaces the torn tail instead of gluing onto it
    man.commit(2, rows_in=5)
    man.commit(3, rows_in=6)
    assert sorted(man.completed()) == [0, 1, 2, 3]
    assert man.completed()[2]["rows_in"] == 5


def test_manifest_raises_on_malformed_line_mid_file(tmp_path):
    """Only the final line may be torn; corruption anywhere else is not
    a crash artefact and must not be skipped silently."""
    man = LineageManifest(str(tmp_path / "_lineage" / "manifest.jsonl"))
    man.commit(0, rows_in=3)
    with open(man.path, "a") as f:
        f.write("not json\n")
    man.commit(1, rows_in=4)
    with pytest.raises(json.JSONDecodeError):
        man.completed()


def test_icelite_schema_evolution_add_column_with_default(spark, tmp_path):
    """Iceberg-v3-style add-column-with-default (VERDICT r03 next-#8):
    a metadata-only commit — v1 files are never rewritten; reads after
    the evolution fill the default for pre-existing rows; time-travel
    to before the evolution never sees the column."""
    t = IceLiteTable(str(tmp_path / "evo"))
    v1 = spark.range(5).withColumn("score", F.col("id") * 2.0)
    s0 = t.append(v1)
    files_before = set(t._current_snapshot()["files"])

    s1 = t.add_column("lang", "string", default="und")
    assert s1["operation"] == "evolve"
    assert set(t._current_snapshot()["files"]) == files_before  # no rewrite

    got = t.read(spark).orderBy("id").toPandas()
    assert list(got.columns) == ["id", "score", "lang"]
    assert (got["lang"] == "und").all()

    # new writes carry the column physically; old files keep the default
    v2 = spark.range(5, 8).withColumn("score", F.col("id") * 2.0) \
        .withColumn("lang", F.lit("en"))
    t.append(v2)
    got = t.read(spark).orderBy("id").toPandas()
    assert got["lang"].tolist() == ["und"] * 5 + ["en"] * 3

    # time-travel to v1: the old schema, untouched
    old = t.read(spark, snapshot_id=s0["snapshot_id"])
    assert old.columns == ["id", "score"] and old.count() == 5

    # a second evolution with a null default stacks cleanly
    t.add_column("quality", "double")
    got = t.read(spark).orderBy("id").toPandas()
    assert got["quality"].isna().all()
    with __import__("pytest").raises(ValueError, match="already exists"):
        t.add_column("lang", "string")

def test_icelite_drop_column_metadata_only(spark, tmp_path):
    """drop_column: reads stop projecting the column (files untouched),
    time-travel before the drop still sees it, and re-adding a dropped
    NAME is rejected (name-based projection has no field ids to keep
    old values from resurrecting)."""
    t = IceLiteTable(str(tmp_path / "drop"))
    v1 = spark.range(4).withColumn("score", F.col("id") * 2.0) \
        .withColumn("tag", F.lit("x"))
    s0 = t.append(v1)
    files_before = set(t._current_snapshot()["files"])
    t.drop_column("tag")
    assert set(t._current_snapshot()["files"]) == files_before
    assert t.read(spark).columns == ["id", "score"]
    assert t.read(spark, snapshot_id=s0["snapshot_id"]).columns \
        == ["id", "score", "tag"]
    # the dropped-name ledger survives later commits
    t.append(spark.range(4, 6).withColumn("score", F.col("id") * 2.0))
    assert t.read(spark).count() == 6
    with __import__("pytest").raises(ValueError, match="previously dropped"):
        t.add_column("tag", "string", default="y")
    with __import__("pytest").raises(ValueError, match="does not exist"):
        t.drop_column("nope")


def test_icelite_append_aligns_to_snapshot_schema(spark, tmp_path):
    """ADVICE r04: append() must commit the SNAPSHOT schema, not adopt
    df.schema — a legacy writer lacking an evolved column cannot revert
    the evolution, and a writer still carrying a dropped column cannot
    resurrect it."""
    import pytest

    t = IceLiteTable(str(tmp_path / "align"))
    t.append(spark.range(3).withColumn("score", F.col("id") * 2.0))
    t.add_column("lang", "string", default="und")

    # legacy writer without the evolved column: default fills in, and
    # the live schema KEEPS the evolution
    t.append(spark.range(3, 5).withColumn("score", F.col("id") * 2.0))
    got = t.read(spark).orderBy("id").toPandas()
    assert list(got.columns) == ["id", "score", "lang"]
    assert (got["lang"] == "und").all() and len(got) == 5

    # writer still carrying a dropped column is rejected
    t.drop_column("lang")
    with pytest.raises(ValueError, match="resurrect"):
        t.append(spark.range(5, 6).withColumn("score", F.lit(1.0))
                 .withColumn("lang", F.lit("en")))

    # unknown extra column is rejected; missing required column too
    with pytest.raises(ValueError, match="add_column first"):
        t.append(spark.range(5, 6).withColumn("score", F.lit(1.0))
                 .withColumn("novel", F.lit(7)))
    with pytest.raises(ValueError, match="missing required"):
        t.append(spark.range(5, 6).select("id"))

    # overwrite IS a schema redefinition: evolution metadata resets,
    # so a post-overwrite append must match the new schema exactly
    t.overwrite(spark.range(10).withColumn("tag", F.lit("z")))
    assert t.read(spark).columns == ["id", "tag"]
    t.append(spark.range(10, 12).withColumn("tag", F.lit("w")))
    assert t.read(spark).count() == 12


def test_icelite_merge_file_scoped_cow(spark, tmp_path):
    """MERGE rewrites only the data dirs that hold matched keys; the
    untouched dir carries into the new snapshot BY REFERENCE, and
    time-travel to the pre-merge snapshot still sees the old rows."""
    t = IceLiteTable(str(tmp_path / "merge"))
    lo = spark.range(0, 100).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("v"))
    hi = spark.range(100, 200).select(F.col("id").alias("k"),
                                      (F.col("id") * 10).alias("v"))
    t.append(lo)
    pre = t.append(hi)
    pre_files = list(pre["files"])

    # updates touch only keys < 100 (the first dir) + one brand-new key
    upd = spark.createDataFrame([(5, -5), (7, -7), (1000, 42)], "k long, v long")
    snap = t.merge_into(spark, upd, key="k")
    assert snap["operation"] == "merge"
    # dir #2 (hi) carried by reference; dir #1 (lo) rewritten
    assert pre_files[1] in snap["files"]
    assert pre_files[0] not in snap["files"]
    assert len(snap["files"]) == 2

    back = t.read(spark).toPandas().set_index("k").sort_index()
    assert len(back) == 201
    assert back.loc[5, "v"] == -5 and back.loc[7, "v"] == -7
    assert back.loc[1000, "v"] == 42
    assert back.loc[6, "v"] == 60 and back.loc[150, "v"] == 1500

    # time-travel: the pre-merge snapshot is untouched
    old = t.read(spark, snapshot_id=pre["snapshot_id"]).toPandas() \
        .set_index("k").sort_index()
    assert len(old) == 200 and old.loc[5, "v"] == 50


def test_icelite_merge_pure_insert_keeps_all_dirs(spark, tmp_path):
    """A merge batch with no matched key is a pure insert: every live
    dir survives by reference, one new dir holds the batch."""
    t = IceLiteTable(str(tmp_path / "merge2"))
    base = t.append(spark.range(10).select(F.col("id").alias("k"),
                                           F.lit(1).alias("v")))
    snap = t.merge_into(
        spark, spark.createDataFrame([(99, 9)], "k long, v long"), key="k")
    assert base["files"][0] in snap["files"] and len(snap["files"]) == 2
    assert t.read(spark).count() == 11


def test_icelite_merge_validates_key_and_schema(spark, tmp_path):
    t = IceLiteTable(str(tmp_path / "merge3"))
    t.append(spark.range(5).select(F.col("id").alias("k"),
                                   F.lit(1).alias("v")))
    with pytest.raises(ValueError, match="merge key"):
        t.merge_into(spark, spark.createDataFrame([(1, 1)],
                     "k long, v long"), key="nope")
    with pytest.raises(ValueError, match="not in the live snapshot"):
        t.merge_into(spark, spark.createDataFrame([(1, 1, 2)],
                     "k long, v long, extra long"), key="k")


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: the streamed join+windowed
    agg must equal the same plan run in batch (complete mode drains
    every window, so no sentinel staging is needed)."""
    dim = spark.read.parquet(f"{SF_DIR}/nation.parquet") \
        .select(F.col("n_nationkey").alias("nk"), "n_name")

    def plan(df):
        return (df.withColumn("nk", F.pmod("user_id", F.lit(25)).cast(
                    dim.schema["nk"].dataType))
                .join(F.broadcast(dim), "nk")
                .groupBy(F.window("ts", "1 hour").alias("win"), "n_name")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.col("win.start").alias("hour"), "n_name",
                        "n", "sum_value"))

    stream = SE.read_events_stream(spark, _events_dir(tmp_path))
    SE.run_available_now(plan(stream.withWatermark("ts", "1 hour")),
                         "enrich_sink", str(tmp_path / "ck_enrich"),
                         output_mode="complete", shuffle_partitions=4)
    got = spark.table("enrich_sink").toPandas() \
        .sort_values(["hour", "n_name"]).reset_index(drop=True)
    want = plan(spark.read.parquet(f"{SF_DIR}/events.parquet")).toPandas() \
        .sort_values(["hour", "n_name"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (got["n"].to_numpy() == want["n"].to_numpy()).all()
    assert (got["sum_value"].to_numpy() == want["sum_value"].to_numpy()).all()


def test_icelite_compact_small_files(spark, tmp_path):
    """Compaction folds every small dir into one consolidated dir,
    carries large dirs BY REFERENCE, keeps row content identical, and
    leaves pre-compaction snapshots time-travelable."""
    t = IceLiteTable(str(tmp_path / "compact"))
    big = spark.range(0, 500).select(F.col("id").alias("k"),
                                     (F.col("id") * 3).alias("v"))
    t.append(big)
    for k in range(4):
        t.append(spark.range(500 + k * 10, 510 + k * 10)
                 .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v")))
    pre = t._current_snapshot()
    assert len(pre["files"]) == 5

    snap = t.compact(spark, min_rows=100)
    assert snap["operation"] == "compact"
    assert len(snap["files"]) == 2
    assert pre["files"][0] in snap["files"]          # big dir by reference
    for p in pre["files"][1:]:
        assert p not in snap["files"]                # small dirs rewritten

    back = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert len(back) == 540
    assert (back.v == back.k * 3).all()

    # pre-compaction snapshot unchanged
    old = t.read(spark, snapshot_id=pre["snapshot_id"]).toPandas()
    assert len(old) == 540

    # idempotent: one consolidated dir + one big dir → nothing small
    # enough to fold twice (the consolidated dir is above threshold
    # only if >= min_rows; here 40 rows < 100 → but it is the ONLY
    # small dir, so compact is a no-op)
    again = t.compact(spark, min_rows=100)
    assert again["snapshot_id"] == snap["snapshot_id"]


def test_icelite_compact_materializes_evolution_defaults(spark, tmp_path):
    """Small files written before an add_column are rewritten with the
    recorded default materialized — reads identical before/after."""
    t = IceLiteTable(str(tmp_path / "compact_evo"))
    t.append(spark.range(5).select(F.col("id").alias("k")))
    t.add_column("tag", "string", default="legacy")
    t.append(spark.range(5, 9).select(F.col("id").alias("k"),
                                      F.lit("fresh").alias("tag")))
    before = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    t.compact(spark, min_rows=1000)
    after = t.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert before.equals(after)
    assert set(after.tag) == {"legacy", "fresh"}


def test_icelite_stats_pruning_skips_files(spark, tmp_path):
    from pyspark.sql import functions as F
    from extract_sf_r_parallel_spark.sources.tables import IceLiteTable
    t = IceLiteTable(str(tmp_path / "tbl"))
    base = spark.range(3000).select(F.col("id").alias("k"),
                                    (F.col("id") * 2).alias("v"))
    for lo in (0, 1000, 2000):           # three disjoint key ranges
        t.append(base.filter((F.col("k") >= lo) & (F.col("k") < lo + 1000)),
                 stats_cols=("k",))
    df, scanned, total = t.read_pruned(spark, "k", 1200, 1800)
    assert (scanned, total) == (1, 3)    # only the middle file read
    got = {r.k: r.v for r in df.collect()}
    want = {k: 2 * k for k in range(1200, 1801)}
    assert got == want
    # boundary overlap: a range touching two files scans exactly two
    _, scanned2, _ = t.read_pruned(spark, "k", 999, 1000)
    assert scanned2 == 2


def test_icelite_stats_conservative_without_stats(spark, tmp_path):
    from pyspark.sql import functions as F
    from extract_sf_r_parallel_spark.sources.tables import IceLiteTable
    t = IceLiteTable(str(tmp_path / "tbl"))
    base = spark.range(100).select(F.col("id").alias("k"))
    t.append(base.filter("k < 50"), stats_cols=("k",))
    t.append(base.filter("k >= 50"))     # NO stats recorded
    df, scanned, total = t.read_pruned(spark, "k", 0, 10)
    # the stats-less file can never be skipped
    assert (scanned, total) == (2, 2)
    assert df.count() == 11
    # stats survive later commits (carried per live file)
    t.append(base.filter("k < 0"), stats_cols=("k",))  # empty append
    df2, scanned2, total2 = t.read_pruned(spark, "k", 60, 70)
    # file 1 pruned by stats; file 2 (no stats) + empty file 3 scanned
    assert (scanned2, total2) == (2, 3)
    assert df2.count() == 11


def test_icelite_delete_where_file_scoped_cow(spark, tmp_path):
    import os
    from pyspark.sql import functions as F
    from extract_sf_r_parallel_spark.sources.tables import IceLiteTable
    t = IceLiteTable(str(tmp_path / "tbl"))
    base = spark.range(300).select(F.col("id").alias("k"),
                                   (F.col("id") % 7).alias("v"))
    for lo in (0, 100, 200):
        t.append(base.filter((F.col("k") >= lo) & (F.col("k") < lo + 100)))
    pre = t._current_snapshot()
    snap = t.delete_where(spark, "k >= 150 AND k < 160")
    # only the middle dir rewrote; the other two carried BY REFERENCE
    assert snap["deleted_dirs"] == 1 and snap["carried_dirs"] == 2
    assert set(snap["files"]) & set(pre["files"]) == \
        set(pre["files"]) - {pre["files"][1]}
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == [k for k in range(300) if not (150 <= k < 160)]
    # pre-delete snapshot still time-travels to the full table
    old = t.read(spark, snapshot_id=pre["snapshot_id"])
    assert old.count() == 300
    # deleting nothing carries every dir
    snap2 = t.delete_where(spark, "k < 0")
    assert snap2["deleted_dirs"] == 0
    assert t.read(spark).count() == 290


def test_stream_sink_one_snapshot_per_microbatch(spark, tmp_path):
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd
    from pyspark.sql import functions as F
    from extract_sf_r_parallel_spark.sources.tables import IceLiteTable
    from extract_sf_r_parallel_spark.streaming import events as SE
    # stage 4 tiny event files → 2-per-trigger → 2 micro-batches
    src = tmp_path / "src"; src.mkdir()
    for i in range(4):
        pdf = pd.DataFrame({
            "event_id": [i], "ts": [pd.Timestamp("2024-01-01")],
            "user_id": [i], "event_type": ["view"], "value": [1.0],
            "props": ['{"k": 1}']})
        t = pa.Table.from_pandas(pdf)
        t = t.set_column(t.schema.get_field_index("ts"), "ts",
                         t["ts"].cast(pa.timestamp("us")))
        pq.write_table(t, os.path.join(src, f"part-{i:03d}.parquet"))
    tbl = IceLiteTable(str(tmp_path / "tbl"))
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 2).parquet(str(src))
    q = (stream.writeStream
         .foreachBatch(lambda df, _b: tbl.append(df))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    snaps = tbl.snapshots()
    assert len(snaps) == 2                       # one commit per batch
    assert tbl.read(spark).count() == 4
    # time-travel to the first commit shows only the first batch
    first = tbl.read(spark, snapshot_id=snaps[0]["snapshot_id"])
    assert first.count() == 2


def test_icelite_merge_rejects_duplicate_update_keys(spark, tmp_path):
    """ADVICE r06: a CDC batch carrying the same key twice must raise
    (Iceberg MERGE semantics), not silently insert both rows."""
    t = IceLiteTable(str(tmp_path / "tbl_dupkey"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "pid int, v string"))
    dup = spark.createDataFrame([(2, "x"), (2, "y")], "pid int, v string")
    with pytest.raises(ValueError, match="duplicate key"):
        t.merge_into(spark, dup, key="pid")
    # table unchanged: no snapshot committed, rows intact
    assert len(t.snapshots()) == 1
    assert t.read(spark).count() == 2


def test_icelite_stats_from_committed_file_and_typed_values(spark, tmp_path):
    """ADVICE r06: manifest stats must describe the COMMITTED file and
    must survive JSON for timestamp columns (isoformat, ordering
    preserved); read_pruned normalizes datetime probes the same way."""
    import datetime

    t = IceLiteTable(str(tmp_path / "tbl_tsstats"))
    rows = [(i, datetime.datetime(2024, 1, 1 + i, 12, 0, 0)) for i in range(3)]
    t.append(spark.createDataFrame(rows, "pid int, ts timestamp"),
             stats_cols=("pid", "ts"))
    rows2 = [(i, datetime.datetime(2024, 2, 1 + i, 12, 0, 0)) for i in range(3)]
    t.append(spark.createDataFrame(rows2, "pid int, ts timestamp"),
             stats_cols=("pid", "ts"))
    snap = t._current_snapshot()
    # stats landed as JSON-safe strings, one entry per file
    assert len(snap["stats"]) == 2
    for st in snap["stats"].values():
        assert isinstance(st["ts"][0], str) and st["ts"][0] <= st["ts"][1]
    # a datetime range probe prunes to the single overlapping file
    df, scanned, total = t.read_pruned(
        spark, "ts",
        datetime.datetime(2024, 1, 31), datetime.datetime(2024, 2, 28))
    assert (scanned, total) == (1, 2)
    assert df.count() == 3


def test_icelite_stats_reject_bad_type_before_write(spark, tmp_path):
    """ADVICE r06: an un-orderable stats column must fail BEFORE any
    data file is written (no orphaned data dir)."""
    t = IceLiteTable(str(tmp_path / "tbl_badstats"))
    df = spark.createDataFrame([(1, bytearray(b"x"))], "pid int, blob binary")
    with pytest.raises(TypeError, match="stats_cols"):
        t.append(df, stats_cols=("blob",))
    assert not os.path.exists(str(tmp_path / "tbl_badstats" / "data"))
    assert t._current_snapshot() is None


def test_icelite_delete_where_persists_audit_counters(spark, tmp_path):
    """ADVICE r06: deleted_dirs / carried_dirs must be INSIDE the
    serialized snapshot json, visible to snapshots() readers."""
    t = IceLiteTable(str(tmp_path / "tbl_delaudit"))
    t.append(spark.createDataFrame([(1,), (2,)], "pid int"))
    t.append(spark.createDataFrame([(10,), (20,)], "pid int"))
    t.delete_where(spark, "pid >= 10")
    persisted = t.snapshots()[-1]
    assert persisted["operation"] == "delete"
    assert persisted["deleted_dirs"] == 1
    assert persisted["carried_dirs"] == 1


def test_scratch_dirs_live_under_one_root():
    from extract_sf_r_parallel_spark.scratch import _ROOT, scratch_dir

    a, b = scratch_dir("x_"), scratch_dir("y_")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == _ROOT[0]


def test_icelite_expire_snapshots_removes_orphans_keeps_live(spark, tmp_path):
    """Vacuum semantics: expired manifests and unreferenced data dirs
    are gone, the live snapshot still answers exactly, and keep_last
    protects everything a retained snapshot references."""
    t = IceLiteTable(str(tmp_path / "tbl_vac"))
    t.append(spark.createDataFrame([(i,) for i in range(10)], "pid int"))
    t.append(spark.createDataFrame([(i,) for i in range(10, 20)], "pid int"))
    t.delete_where(spark, "pid < 5")        # rewrites dir 0, carries dir 1
    data_root = str(tmp_path / "tbl_vac" / "data")
    assert len(os.listdir(data_root)) == 3  # 2 appends + 1 rewrite
    audit = t.expire_snapshots(keep_last=1)
    assert audit == {"snapshots_removed": 2, "snapshots_kept": 1,
                     "orphans_removed": 1, "dirs_kept": 2}
    assert len(os.listdir(data_root)) == 2
    assert sorted(r.pid for r in t.read(spark).collect()) == list(range(5, 20))
    # expired snapshots are gone for time travel
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=0)
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)
