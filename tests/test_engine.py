"""Engine core tests: DDL, DML (insert/update/delete), ingestion — the
reference's CRUD surface (SURVEY.md §2.1-2.3) on Parquet copy-on-write."""

from __future__ import annotations

import os
import shutil

import pytest

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


STUDENTS = [
    {"id": 1, "name": "Noel", "course": "Mech"},
    {"id": 2, "name": "Abel", "course": "AI/ML"},
    {"id": 3, "name": "Benedict", "course": "Data Science"},
    {"id": 4, "name": "Eve", "course": "CS"},
    {"id": 5, "name": "Dan", "course": "EE"},
    {"id": 6, "name": "Frank", "course": "Mech"},
]


def _students(engine):
    engine.create_table("students", [("id", "INT"), ("name", "TEXT"), ("course", "TEXT")])
    engine.insert_rows("students", STUDENTS)


def test_create_show_drop(engine):
    engine.create_table("t1", [("a", "INT"), ("b", "TEXT")])
    engine.create_table("t2", [("x", "DECIMAL"), ("y", "BOOL")])
    assert engine.show_tables() == ["t1", "t2"]
    with pytest.raises(ValueError):
        engine.create_table("t1", [("a", "INT")])
    engine.drop_table("t1")
    assert engine.show_tables() == ["t2"]
    with pytest.raises(KeyError):
        engine.table("t1")


def test_empty_table_scan(engine):
    engine.create_table("empty", [("a", "INT")])
    assert engine.table("empty").count() == 0


def test_insert_and_scan(engine):
    _students(engine)
    df = engine.table("students")
    assert df.count() == 6
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "course": "string"}


def test_insert_partial_columns_null_fill(engine):
    # Reference: a row may lack declared columns; projection emits NULL
    # (select.go:588-592).
    _students(engine)
    engine.insert_rows("students", [{"name": "sam", "course": "data science"}])
    row = engine.table("students").filter("name = 'sam'").first()
    assert row.id is None


def test_insert_type_coercion(engine):
    engine.create_table("m", [("i", "INT"), ("d", "DECIMAL"), ("b", "BOOL")])
    engine.insert_rows("m", [{"i": "42", "d": "3.5", "b": "true"}])
    row = engine.table("m").first()
    assert (row.i, row.d, row.b) == (42, 3.5, True)


def test_insert_unknown_column_rejected(engine):
    _students(engine)
    with pytest.raises(ValueError):
        engine.insert_rows("students", [{"nope": 1}])


def test_update_with_where(engine):
    _students(engine)
    n = engine.update("students", {"course": "Mechanical"}, "course = 'Mech'")
    assert n == 2
    df = engine.table("students")
    assert df.filter("course = 'Mechanical'").count() == 2
    assert df.filter("course = 'Mech'").count() == 0
    assert df.count() == 6


def test_update_all_rows_no_where(engine):
    _students(engine)
    n = engine.update("students", {"course": "X"})
    assert n == 6
    assert engine.table("students").filter("course = 'X'").count() == 6


def test_update_casts_to_declared_type(engine):
    # Documented fix over the reference, which stores SET values as raw
    # strings with no coercion (update.go:57-58).
    _students(engine)
    engine.update("students", {"id": "99"}, "name = 'Noel'")
    row = engine.table("students").filter("name = 'Noel'").first()
    assert row.id == 99


def test_delete_requires_where(engine):
    _students(engine)
    with pytest.raises(ValueError):
        engine.delete("students", None)


def test_delete_with_where(engine):
    _students(engine)
    n = engine.delete("students", "course = 'Mech'")
    assert n == 2
    assert engine.table("students").count() == 4


@pytest.mark.parametrize("returning", [False, True])
def test_append_df_computes_source_once(engine, spark, returning):
    """append_df counts the rows it writes on the write pass itself: the
    source plan runs once, with or without RETURNING's checkpoint."""
    from pyspark.sql import functions as F, types as T

    engine.create_table("t", [("x", "INT")])
    calls = spark.sparkContext.accumulator(0)

    def even(x):
        calls.add(1)
        return x % 2 == 0

    src = spark.range(10).select(F.col("id").cast("int").alias("x"))
    src = src.filter(F.udf(even, T.BooleanType())("x"))
    got = engine.append_df("t", src, returning=returning)
    n, batch = got if returning else (got, None)
    assert n == 5 and calls.value == 10
    if returning:
        assert sorted(r.x for r in batch.collect()) == [0, 2, 4, 6, 8]
    assert engine.table("t").count() == 5


def test_ingest_parquet_native_types(engine, sf_dir):
    n = engine.ingest_parquet(f"{sf_dir}/nation.parquet", "nation")
    assert n == 25
    dtypes = dict(engine.table("nation").dtypes)
    assert dtypes["n_nationkey"] == "int"  # typed, not TEXT — unlike the reference
    assert dtypes["n_name"] == "string"


def test_ingest_csv_infer_and_all_text(engine, spark, tmp_path):
    csv = tmp_path / "people.csv"
    csv.write_text("id,name,score\n1,ann,9.5\n2,bob,7.25\n")
    engine.ingest(str(csv), "people")
    assert dict(engine.table("people").dtypes)["id"] == "int"
    engine.ingest(str(csv), "people_text", all_text=True)
    # all_text reproduces the reference's every-import-is-TEXT behavior
    # (importer.go:37-52).
    assert set(dict(engine.table("people_text").dtypes).values()) == {"string"}


def test_ingest_jsonl_roundtrip_and_schema(engine, tmp_path):
    jl = tmp_path / "docs.jsonl"
    jl.write_text(
        '{"id": 1, "text": "he said \\"hi\\"\\nline2", "score": 1.5}\n'
        '{"id": 2, "text": "plain", "score": null}\n'
    )
    n = engine.ingest(str(jl), "jdocs")
    assert n == 2
    dtypes = dict(engine.table("jdocs").dtypes)
    assert dtypes["id"] == "bigint" and dtypes["score"] == "double"
    rows = {r.id: r for r in engine.table("jdocs").collect()}
    # escape fidelity: embedded quote + newline survive the round-trip
    assert rows[1].text == 'he said "hi"\nline2'
    assert rows[2].score is None
    # explicit schema: single-pass read, declared types win
    engine.ingest(str(jl), "jdocs_typed", schema="id INT, text STRING, score DOUBLE")
    assert dict(engine.table("jdocs_typed").dtypes)["id"] == "int"


def test_ingest_jsonl_rejects_empty_and_malformed(engine, tmp_path):
    import pytest

    empty = tmp_path / "empty.jsonl"
    empty.write_text("")
    with pytest.raises(ValueError, match="no JSON objects"):
        engine.ingest(str(empty), "nothing")
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"id": 1}\n{not json at all\n')
    with pytest.raises(Exception):  # FAILFAST surfaces the malformed line
        engine.ingest(str(bad), "bad")


def test_export_jsonl_roundtrips_via_copy(engine, sf_dir, tmp_path):
    engine.ingest_parquet(f"{sf_dir}/nation.parquet", "nation")
    out = tmp_path / "nation_jsonl"
    msg = engine.ref_sql(f"COPY nation TO '{out}' FORMAT jsonl")
    assert "25 row(s)" in msg and "jsonl" in msg
    engine.ingest(str(out), "nation_rt", "jsonl")
    a = sorted(tuple(r) for r in engine.table("nation").select("n_nationkey", "n_name").collect())
    b = sorted(tuple(r) for r in engine.table("nation_rt").select("n_nationkey", "n_name").collect())
    assert a == b


def test_sql_surface(engine):
    _students(engine)
    out = engine.sql(
        "SELECT course, count(*) AS count FROM students GROUP BY course ORDER BY course"
    ).collect()
    assert [r.course for r in out] == ["AI/ML", "CS", "Data Science", "EE", "Mech"]
    assert out[-1]["count"] == 2


def test_catalog_persistence(spark, tmp_path):
    root = str(tmp_path / "db")
    e1 = Engine(spark, root)
    e1.create_table("t", [("a", "INT")])
    e1.insert_rows("t", [{"a": 1}, {"a": 2}])
    e2 = Engine(spark, root)  # fresh instance, same root
    assert e2.show_tables() == ["t"]
    assert e2.table("t").count() == 2


def test_image_resolution(engine, tmp_path):
    img_dir = tmp_path / "imgs"
    img_dir.mkdir()
    (img_dir / "cat_photo.png").write_bytes(b"\x89PNG fake")
    engine.image_dir = str(img_dir)
    engine.create_table("photos", [("id", "INT"), ("img", "IMAGE")])
    engine.insert_rows("photos", [{"id": 1, "img": "cat_photo"}, {"id": 2, "img": "cat"}])
    rows = {r.id: r.img for r in engine.table("photos").collect()}
    assert rows[1] == str(img_dir / "cat_photo.png")  # exact stem + ext probe
    assert rows[2] == str(img_dir / "cat_photo.png")  # substring match


def test_partitioned_ingest_prunes_partitions(engine, sf_dir):
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.inspect import (
        plan_text,
    )
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.workloads.registry import (
        load,
    )

    events = load(engine.spark, sf_dir, "events")
    engine.catalog._tables.pop("events_part", None)
    engine._register_ingested("events_part", events, ["event_type"])
    df = engine.table("events_part").filter("event_type = 'click'")
    txt = plan_text(df)
    # the partition filter must hit PartitionFilters, not a post-scan Filter
    assert "PartitionFilters" in txt
    assert any(
        "event_type" in line and "click" in line
        for line in txt.splitlines()
        if "PartitionFilters" in line
    ), txt
    assert df.count() > 0


def test_compact_reduces_files(engine):
    engine.create_table("t", [("a", "INT")])
    for i in range(5):  # 5 separate appends → many small files
        engine.insert_rows("t", [{"a": i}])
    n_files = engine.compact("t", target_files=1)
    assert n_files == 1
    assert engine.table("t").count() == 5


def test_optimize_zorder_clusters_table(engine):
    engine.create_table("z", [("a", "INT"), ("b", "INT")])
    # two appends with interleaved ranges: worst layout for pruning.
    engine.insert_rows("z", [{"a": i % 100, "b": i // 100} for i in range(0, 1000, 2)])
    engine.insert_rows("z", [{"a": i % 100, "b": i // 100} for i in range(1, 1000, 2)])
    n_files = engine.optimize("z", ["a", "b"], target_files=4)
    assert n_files == 4
    df = engine.table("z")
    assert df.count() == 1000
    assert df.columns == ["a", "b"]  # _zkey dropped
    # clustered: each file's a-range must be a narrow slice of 0..99.
    import glob as _glob
    import pyarrow.parquet as _pq
    path = engine.store.table_path("z")
    spans = []
    for f in _glob.glob(path + "/**/*.parquet", recursive=True):
        md = _pq.read_metadata(f)
        st = md.row_group(0).column(0).statistics
        lo, hi = st.min, st.max
        for rg in range(1, md.num_row_groups):
            s = md.row_group(rg).column(0).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        spans.append(hi - lo)
    assert len(spans) == 4
    assert sum(spans) / len(spans) < 75, spans


def test_upsert_merge_semantics(engine, spark):
    engine.create_table("kv", [("k", "INT"), ("v", "TEXT")])
    engine.insert_rows("kv", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    updates = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    engine.upsert("kv", updates, ["k"])
    got = {r.k: r.v for r in engine.table("kv").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_stream_upsert_into(engine, spark, sf_dir):
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.streaming.ops import (
        read_events_stream,
        stream_upsert_into,
    )

    engine.create_table(
        "latest_events",
        [("user_id", "INT"), ("event_id", "INT"), ("value", "DECIMAL")],
    )
    from pyspark.sql import functions as F

    stream = read_events_stream(spark, sf_dir).groupBy("user_id").agg(
        F.max("event_id").alias("event_id"),
        F.sum("value").alias("value"),
    )
    q = stream_upsert_into(engine, "latest_events", stream, ["user_id"])
    q.processAllAvailable()
    q.stop()
    out = engine.table("latest_events")
    assert out.count() == out.select("user_id").distinct().count() > 0


def test_time_travel_snapshots(spark, tmp_path):
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
        Engine,
    )

    e = Engine(spark, str(tmp_path / "tt"), keep_snapshots=2)
    e.create_table("t", [("a", "INT"), ("b", "TEXT")])
    e.insert_rows("t", [{"a": 1, "b": "one"}, {"a": 2, "b": "two"}])
    e.update("t", {"b": "ONE"}, "a = 1")      # v0 = pre-update snapshot
    e.delete("t", "a = 2")                     # v1 = pre-delete snapshot
    assert e.store.versions("t") == [0, 1]
    assert {r.b for r in e.table_at("t", 0).collect()} == {"one", "two"}
    assert {r.b for r in e.table_at("t", 1).collect()} == {"ONE", "two"}
    assert {r.b for r in e.table("t").collect()} == {"ONE"}
    e.update("t", {"b": "x"})                  # v2; retention drops v0
    assert e.store.versions("t") == [1, 2]
    with pytest.raises(KeyError):
        e.table_at("t", 0)


def test_optimize_zorder_partitioned_table(engine, spark):
    # On a hive-partitioned table, optimize must range-partition leading
    # with the partition column: otherwise each of the target_files tasks
    # spans every disk partition and the partitionBy writer fans out into
    # tasks x partitions files with the z-clustering destroyed.
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        (F.col("id") % 2 == 0).cast("int").cast("string").alias("p"),
        (F.col("id") % 100).cast("int").alias("a"),
        (F.col("id") / 100).cast("int").alias("b"),
    )
    engine._register_ingested("zp", df, ["p"])
    n_files = engine.optimize("zp", ["a", "b"], target_files=4)
    # 4 range tasks over (p, _zkey): each task lands in ~one partition dir;
    # at worst one boundary task straddles both → 5 files, never 8.
    assert n_files <= 5, n_files
    out = engine.table("zp")
    assert out.count() == 1000
    assert sorted(out.columns) == ["a", "b", "p"]  # _zkey dropped
    # per-file clustering on 'a' must survive within each partition
    import glob as _glob
    import pyarrow.parquet as _pq

    path = engine.store.table_path("zp")
    for f in _glob.glob(path + "/**/*.parquet", recursive=True):
        md = _pq.read_metadata(f)
        names = md.schema.names
        ai = names.index("a")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ai).statistics
            mins.append(st.min)
            maxs.append(st.max)
        assert max(maxs) - min(mins) < 75, (f, min(mins), max(maxs))


def test_orc_export_ingest_roundtrip(spark, tmp_path):
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
        Engine,
    )

    e = Engine(spark, str(tmp_path / "orcdb"))
    e.ingest_parquet("/root/testdata/sf0.001/nation.parquet", "nation")
    out = str(tmp_path / "nation_orc")
    n = e.export_df(e.table("nation"), out, "orc")
    assert n == e.table("nation").count()
    e.ingest(out, "nation_rt", "orc")
    # Typed round-trip: schema and content both survive.
    src = e.table("nation")
    rt = e.table("nation_rt")
    assert rt.schema == src.schema
    assert sorted(map(tuple, rt.collect())) == sorted(map(tuple, src.collect()))
    # Dialect surface: COPY ... FORMAT orc.
    out2 = str(tmp_path / "nation_orc2")
    msg = e.ref_sql(f"COPY nation TO '{out2}' FORMAT orc")
    assert "orc" in msg and e.spark.read.orc(out2).count() == n


def test_alter_table_rename(spark, tmp_path, sf_dir):
    """Round-11: ALTER TABLE RENAME TO (metadata-only dir move; snapshots
    travel with it; refused while a matview or vector index pins the
    name) and RENAME COLUMN (copy-on-write rewrite — parquet reads
    columns by name, so catalog-only would NULL the data out)."""
    import pytest

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
        Engine,
    )

    e = Engine(spark, str(tmp_path / "rn"), keep_snapshots=2)
    e.ref_sql("CREATE TABLE t (a INT, b TEXT)")
    e.ref_sql("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    e.ref_sql("UPDATE t SET b = 'z' WHERE a = 2")  # retires a snapshot
    msg = e.ref_sql("ALTER TABLE t RENAME TO t2")
    assert msg == "renamed 't' to 't2'"
    assert e.show_tables() == ["t2"]
    assert sorted(r.b for r in e.table("t2").collect()) == ["x", "z"]
    # snapshots moved with the table: version 0 still readable
    assert e.store.versions("t2") == [0]
    # rename column rewrites and keeps values
    msg = e.ref_sql("ALTER TABLE t2 RENAME COLUMN b TO label")
    assert "renamed column b" in msg
    assert e.table("t2").columns == ["a", "label"]
    assert sorted(r.label for r in e.table("t2").collect()) == ["x", "z"]
    # guard rails
    e.ref_sql("CREATE TABLE other (a INT)")
    with pytest.raises(ValueError, match="already exists"):
        e.rename_table("t2", "other")
    with pytest.raises(KeyError):
        e.rename_column("t2", "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        e.rename_column("t2", "a", "label")
    # a vector-index dependency blocks the rename
    e.ingest_parquet(f"{sf_dir}/embeddings.parquet", "emb")
    e.ref_sql("CREATE VECTOR INDEX vi ON emb (embedding) ID vec_id CENTROIDS 4")
    with pytest.raises(ValueError, match="referenced by"):
        e.rename_table("emb", "emb2")


def test_scan_cache_skips_paths_stat_cannot_see(spark, tmp_path):
    """A fixture the driver cannot stat (here a ``file:`` URI) must not be
    cached under a constant key: once deleted it must stop loading."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.workloads.registry import (
        load,
    )

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    assert load(spark, str(tmp_path), "t") is load(spark, str(tmp_path), "t")
    uri = f"file:{tmp_path}"
    assert load(spark, uri, "t").count() == 3
    shutil.rmtree(tmp_path / "t.parquet")
    with pytest.raises(Exception):
        load(spark, uri, "t")


def test_default_driver_memory_is_half_the_machine():
    """The driver heap defaults to half of physical RAM, clamped to
    [1g, 32g] (pure function — no JVM)."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.session import (
        _default_driver_memory,
    )

    gib = 2**30
    assert _default_driver_memory(15 * gib) == "7g"
    assert _default_driver_memory(16 * gib) == "8g"
    assert _default_driver_memory(gib) == "1g"
    assert _default_driver_memory(512 * gib) == "32g"
    # no argument: this machine's RAM, in the same format
    assert _default_driver_memory().endswith("g")


def test_declared_types_parse_once(engine):
    """``spark_type_for`` memoizes each declared string: a nested
    declaration parses to one shared type that no schema build mutates,
    and a failed parse raises every time instead of being cached."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.catalog import (
        spark_type_for,
    )

    decl = "array<struct<a:int,b:map<string,array<bigint>>>>"
    engine.create_table("n", [("id", "INT"), ("xs", decl)])
    first = spark_type_for(decl)
    assert spark_type_for(decl) is first
    assert first.simpleString() == decl
    meta = engine.catalog.get("n")
    assert meta.schema == meta.schema
    assert meta.schema["xs"].dataType is first
    engine.insert_rows("n", [{"id": 1, "xs": [{"a": 2, "b": {"k": [3, 4]}}]}])
    engine.insert_rows("n", [{"id": 2, "xs": None}])
    rows = sorted(engine.table("n").collect())
    assert [r.id for r in rows] == [1, 2]
    assert rows[0].xs[0].a == 2 and rows[0].xs[0].b == {"k": [3, 4]}
    assert spark_type_for(decl) is first and first.simpleString() == decl
    misses = spark_type_for.cache_info().currsize
    for _ in range(2):
        with pytest.raises(ValueError):
            spark_type_for("no_such_type<")
    assert spark_type_for.cache_info().currsize == misses
    with pytest.raises(ValueError):
        engine.create_table("bad", [("x", "no_such_type<")])
