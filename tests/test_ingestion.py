"""End-to-end ingestion-framework tests over synthesized fixtures,
covering the reference's edge cases (SURVEY.md §5): keyed upsert
idempotence, keyless merge degenerating to append, composite keys,
schema evolution, disabled-source skip, unknown reader type.
"""

from __future__ import annotations

import textwrap

import pytest

from metadata_ingestion_poc_spark.framework import run
from metadata_ingestion_poc_spark.sources import get_reader
from metadata_ingestion_poc_spark.writer import read_hub


@pytest.fixture()
def lake(tmp_path):
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "people.csv").write_text(
        "person_id,name,country\n1,Ada,UK\n2,Grace,US\n3,Anna-María,ES\n"
    )
    (tmp_path / "in" / "clicks.json").write_text(
        '{"click_id": 1, "person_id": 1, "n": 3}\n'
        '{"click_id": 2, "person_id": 2, "n": 5}\n'
    )
    (tmp_path / "in" / "sales.csv").write_text(
        "category,yr,total\nphones,2023,10\nphones,2024,12\nlaptops,2023,7\n"
    )
    yaml_path = tmp_path / "sources.yaml"
    yaml_path.write_text(
        textwrap.dedent(
            f"""
            version: 1
            defaults:
              raw_base: {tmp_path}/lake/raw
              hub_base: {tmp_path}/lake/hub
              checkpoint_base: {tmp_path}/lake/checkpoints
            sources:
              - id: people_csv
                type: csv
                domain: crm
                entity: people
                options:
                  path: {tmp_path}/in/people.csv
                  header: true
                  inferSchema: true
                hub_primary_keys: [person_id]
              - id: clicks_json
                type: json
                domain: web
                entity: clicks
                options:
                  path: {tmp_path}/in/clicks.json
                hub_primary_keys: []
              - id: sales_olap
                type: olap
                domain: sales
                entity: cube
                options:
                  fallback_csv_path: {tmp_path}/in/sales.csv
                hub_primary_keys: [category, yr]
              - id: disabled_src
                enabled: false
                type: csv
                domain: crm
                entity: nope
                options:
                  path: /nonexistent.csv
            """
        )
    )
    return tmp_path, str(yaml_path)


def test_run_ingests_enabled_sources_only(spark, lake):
    tmp, yaml_path = lake
    ran = run(spark, yaml_path, ingest_date="2026-08-13")
    assert ran == ["people_csv", "clicks_json", "sales_olap"]


def test_raw_zone_partitioned_by_ingest_date(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    raw = spark.read.parquet(f"{tmp}/lake/raw/crm/people")
    assert raw.count() == 3
    assert (tmp / "lake/raw/crm/people/ingest_date=2026-08-13").exists()
    row = raw.filter("person_id = 3").first()
    assert row.name == "Anna-María"  # UTF-8 survives the round trip
    assert row._source_id == "people_csv"


def test_hub_upsert_idempotent(spark, lake):
    """Running the pipeline twice must not duplicate keyed HUB rows."""
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    first = read_hub(spark, f"{tmp}/lake/hub/crm/people").count()
    run(spark, yaml_path, ingest_date="2026-08-14")
    second = read_hub(spark, f"{tmp}/lake/hub/crm/people").count()
    assert first == second == 3


def test_hub_upsert_updates_matching_keys(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    (tmp / "in" / "people.csv").write_text(
        "person_id,name,country\n1,Ada Lovelace,UK\n4,Alan,UK\n"
    )
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/crm/people")
    rows = {r.person_id: r.name for r in hub.collect()}
    assert rows == {1: "Ada Lovelace", 2: "Grace", 3: "Anna-María", 4: "Alan"}


def test_keyless_hub_degenerates_to_append(spark, lake):
    """Reference edge case writer.py:24,34 — empty keys ⇒ append."""
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/web/clicks")
    assert hub.count() == 4  # 2 rows × 2 runs


def test_composite_key_upsert(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    (tmp / "in" / "sales.csv").write_text(
        "category,yr,total\nphones,2023,99\ntablets,2024,5\n"
    )
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/sales/cube")
    rows = {(r.category, r.yr): r.total for r in hub.collect()}
    assert rows[("phones", 2023)] == 99  # updated
    assert rows[("phones", 2024)] == 12  # untouched
    assert rows[("tablets", 2024)] == 5  # inserted
    assert len(rows) == 4


def test_schema_evolution_widens_hub(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    (tmp / "in" / "people.csv").write_text(
        "person_id,name,country,email\n5,Eve,FR,eve@example.com\n"
    )
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/crm/people")
    assert "email" in hub.columns
    rows = {r.person_id: r for r in hub.collect()}
    assert rows[5].email == "eve@example.com"
    assert rows[1].email is None  # widened with nulls for old rows


def test_unknown_reader_type_fails_fast():
    # "avro" is a registered (capability-gated) reader now — use a
    # genuinely unknown kind
    with pytest.raises(ValueError, match="unknown reader type"):
        get_reader("feather")


def test_orc_reader_roundtrip(spark, tmp_path):
    path = str(tmp_path / "orc_src")
    spark.range(0, 50).selectExpr("id", "id * 2 AS v").write.orc(path)
    out = get_reader("orc")(spark, {"path": path})
    assert sorted(r.id for r in out.select("id").collect()) == list(range(50))


def test_binary_reader_blobs_with_glob(spark, tmp_path):
    import os

    blobs = tmp_path / "blobs"
    blobs.mkdir()
    (blobs / "a.bin").write_bytes(b"\x00\x01abc")
    (blobs / "b.bin").write_bytes(b"hello")
    (blobs / "skip.txt").write_bytes(b"x")
    out = get_reader("binary")(
        spark, {"path": str(blobs), "pathGlobFilter": "*.bin"}
    )
    rows = {
        os.path.basename(r.path): bytes(r.content) for r in out.collect()
    }
    assert rows == {"a.bin": b"\x00\x01abc", "b.bin": b"hello"}


def test_quarantine_malformed_json_rows(spark, tmp_path):
    """A PERMISSIVE json read with one malformed line: the bad row is
    appended to the quarantine zone with its raw payload; only clean
    rows reach RAW and HUB."""
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import run_source
    from metadata_ingestion_poc_spark.metadata import Source

    src_file = tmp_path / "in.json"
    src_file.write_text(
        '{"pk": 1, "v": "a"}\n'
        "{this is not json at all\n"
        '{"pk": 2, "v": "b"}\n'
    )
    source = Source(
        id="json_src",
        type="json",
        domain="d",
        entity="e",
        options={"path": str(src_file)},
        hub_primary_keys=["pk"],
    )
    cfg = Config.from_defaults(
        {"raw_base": str(tmp_path / "raw"), "hub_base": str(tmp_path / "hub")}
    )
    run_source(spark, source, cfg, ingest_date="2026-01-01")

    hub = spark.read.parquet(str(tmp_path / "hub" / "d" / "e"))
    assert sorted(r.pk for r in hub.collect()) == [1, 2]
    assert "_corrupt_record" not in hub.columns

    q = spark.read.parquet(str(tmp_path / "raw_quarantine" / "d" / "e"))
    rows = q.collect()
    assert len(rows) == 1
    assert "not json" in rows[0]["_corrupt_record"]
    # quarantine keeps the RAW partition layout for replay
    assert (tmp_path / "raw_quarantine" / "d" / "e"
            / "ingest_date=2026-01-01").exists()


def test_csv_explicit_schema_with_corrupt_capture(spark, tmp_path):
    from metadata_ingestion_poc_spark.sources import get_reader

    f = tmp_path / "in.csv"
    f.write_text("1,alpha\ntwo,beta,extra,cols,here\n3,gamma\n")
    out = get_reader("csv")(
        spark,
        {
            "path": str(f),
            "schema": "pk INT, v STRING, _corrupt_record STRING",
            "columnNameOfCorruptRecord": "_corrupt_record",
            "mode": "PERMISSIVE",
        },
    )
    rows = out.collect()
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    good = sorted(r.pk for r in rows if r["_corrupt_record"] is None)
    assert good == [1, 3]
    assert len(bad) == 1 and "two" in bad[0]["_corrupt_record"]


def test_xml_reader_rowtag_and_options(spark, tmp_path):
    xdir = tmp_path / "xml_src"
    xdir.mkdir()
    (xdir / "t.xml").write_text(
        "<items><item><id>1</id><name>ring</name></item>"
        "<item><id>2</id><name>bolt</name></item></items>"
    )
    out = get_reader("xml")(spark, {"path": str(xdir), "rowTag": "item"})
    rows = sorted((r.id, r.name) for r in out.collect())
    assert rows == [(1, "ring"), (2, "bolt")]


def test_xml_source_type_accepted_in_metadata():
    from metadata_ingestion_poc_spark.metadata import Source

    s = Source(
        id="x1", type="xml", domain="d", entity="e",
        options={"path": "/tmp/x", "rowTag": "item"},
    )
    assert s.type == "xml"


def test_source_types_are_the_registered_readers():
    """The YAML validator accepts exactly the registered reader kinds:
    avro validates, an unregistered kind is still rejected."""
    from pydantic import ValidationError

    from metadata_ingestion_poc_spark.metadata import Source

    fields = dict(id="a1", domain="d", entity="e", options={"path": "/x"})
    assert Source(type="avro", **fields).type == "avro"
    with pytest.raises(ValidationError, match="unknown source type"):
        Source(type="feather", **fields)


def test_run_reports_observed_metrics(spark, lake):
    tmp, yaml_path = lake
    seen = {}
    run(
        spark, yaml_path, ingest_date="2026-08-13",
        metrics_sink=lambda sid, m: seen.__setitem__(sid, m),
    )
    assert seen["people_csv"]["rows_ingested"] == 3
    assert seen["people_csv"]["null_key_rows"] == 0
    assert seen["clicks_json"]["rows_ingested"] == 2
    assert seen["clicks_json"]["null_key_rows"] == 0  # keyless source
    assert seen["sales_olap"]["rows_ingested"] == 3


def test_run_source_counts_null_keys(spark, tmp_path):
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import run_source
    from metadata_ingestion_poc_spark.metadata import Source

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "k.csv").write_text(
        "k1,k2,v\n1,a,x\n,b,y\n2,,z\n3,c,w\n"
    )
    src = Source(
        id="nullkeys", type="csv", domain="d", entity="e",
        options={
            "path": str(tmp_path / "in" / "k.csv"),
            "header": True, "inferSchema": True,
        },
        hub_primary_keys=["k1", "k2"],
    )
    cfg = Config(
        env="local",
        raw_base=str(tmp_path / "raw"),
        hub_base=str(tmp_path / "hub"),
        checkpoint_base=str(tmp_path / "cp"),
    )
    m = run_source(spark, src, cfg, ingest_date="2026-08-13")
    assert m == {"rows_ingested": 4, "null_key_rows": 2}


def test_snapshot_reader_registered(spark, tmp_path):
    """The 'snapshot' source type ingests versioned snapshot tables
    through the same registry as every other reader, with the
    `version` option time-traveling."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark import snapshots as S

    t = str(tmp_path / "snap_tbl")
    S.snapshot_write(
        spark.range(7).select(F.col("id"), F.lit("a").alias("tag")), t
    )
    S.snapshot_write(
        spark.range(7, 9).select(F.col("id"), F.lit("b").alias("tag")), t
    )
    assert get_reader("snapshot")(spark, {"path": t}).count() == 9
    v1 = get_reader("snapshot")(spark, {"path": t, "version": "1"})
    assert sorted(r["id"] for r in v1.collect()) == list(range(7))


def test_avro_reader_roundtrip(spark, tmp_path):
    """Avro read through the dispatch: write a fixture with the
    resolved format name (the short alias is absent in this
    distribution — avro_format_name falls back to the implementation
    class), read it back via get_reader("avro")."""
    from metadata_ingestion_poc_spark.sources import (
        avro_format_name,
        get_reader,
    )

    path = str(tmp_path / "avro_src")
    src = spark.range(0, 10).selectExpr(
        "id", "cast(id as string) AS name", "id * 2.5 AS score"
    )
    src.write.format(avro_format_name(spark)).save(path)
    got = get_reader("avro")(spark, {"path": path})
    assert sorted((r.id, r.name, r.score) for r in got.collect()) == [
        (i, str(i), i * 2.5) for i in range(10)
    ]


# -- lanes: independent sources run concurrently ------------------------------


def _yaml(tmp, name: str, sources: list[dict]) -> str:
    """A sources file over the ``lake`` fixture's zones (YAML is a
    superset of JSON)."""
    import json

    path = tmp / name
    path.write_text(
        json.dumps(
            {
                "version": 1,
                "defaults": {
                    "raw_base": f"{tmp}/lake/raw",
                    "hub_base": f"{tmp}/lake/hub",
                },
                "sources": sources,
            }
        )
    )
    return str(path)


def _csv(sid, entity, path, domain="crm"):
    return {
        "id": sid, "type": "csv", "domain": domain, "entity": entity,
        "options": {"path": str(path), "header": True, "inferSchema": True},
        "hub_primary_keys": ["person_id"],
    }


def _clicks(tmp):
    return {
        "id": "clicks_json", "type": "json", "domain": "web",
        "entity": "clicks", "options": {"path": f"{tmp}/in/clicks.json"},
    }


def test_lanes_group_sources_that_share_a_path(tmp_path):
    """The lane rule alone, no Spark: a shared target, an input under
    another source's HUB, or a glob over it joins a lane, transitively;
    a path that only shares a string prefix (``a`` and ``a_old``) does
    not."""
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import lanes
    from metadata_ingestion_poc_spark.metadata import Source

    cfg = Config.from_defaults(
        {"raw_base": f"{tmp_path}/raw", "hub_base": f"{tmp_path}/hub"}
    )

    def src(domain, entity, path):
        return Source(id=f"{domain}_{entity}", type="parquet", domain=domain,
                      entity=entity, options={"path": path})

    sources = [
        src("d", "a", f"{tmp_path}/in/a"),
        src("e", "b", f"{tmp_path}/in/b"),
        src("d", "a", f"{tmp_path}/in/a2"),
        src("f", "c", f"{tmp_path}/hub/e/b/part-0.parquet"),
        src("g", "h", f"{tmp_path}/hub/f/c*"),
        src("k", "z", f"{tmp_path}/hub/d/a_old"),
    ]
    assert lanes(sources, cfg) == [[0, 2], [1, 3, 4], [5]]


def test_run_same_target_in_yaml_order(spark, lake):
    tmp, _ = lake
    (tmp / "in" / "people_v2.csv").write_text(
        "person_id,name,country\n1,Ada Lovelace,UK\n"
    )
    yaml_path = _yaml(tmp, "same_target.yaml", [
        _csv("people_v1", "people", tmp / "in" / "people.csv"),
        _clicks(tmp),
        _csv("people_v2", "people", tmp / "in" / "people_v2.csv"),
    ])
    ran = run(spark, yaml_path, ingest_date="2026-08-13")
    assert ran == ["people_v1", "clicks_json", "people_v2"]
    hub = read_hub(spark, f"{tmp}/lake/hub/crm/people")
    assert {r.person_id: r.name for r in hub.collect()} == {
        1: "Ada Lovelace", 2: "Grace", 3: "Anna-María",
    }
    assert spark.read.parquet(f"{tmp}/lake/raw/crm/people").count() == 4


def test_run_source_reading_another_hub_runs_after_it(spark, lake):
    tmp, _ = lake
    copy = {
        "id": "people_copy", "type": "parquet", "domain": "crm",
        "entity": "people_copy",
        "options": {"path": f"{tmp}/lake/hub/crm/people"},
        "hub_primary_keys": ["person_id"],
    }
    yaml_path = _yaml(tmp, "chained.yaml", [
        _csv("people_csv", "people", tmp / "in" / "people.csv"),
        _clicks(tmp),
        copy,
    ])
    run(spark, yaml_path, ingest_date="2026-08-13")
    hub = read_hub(spark, f"{tmp}/lake/hub/crm/people_copy")
    assert sorted(r.person_id for r in hub.collect()) == [1, 2, 3]


def test_run_failure_stops_only_its_lane(spark, lake):
    """A failing source stops its own lane; the other lanes land, the
    sink sees every success in YAML order, and the first failure in
    YAML order is raised."""
    tmp, _ = lake
    yaml_path = _yaml(tmp, "failing.yaml", [
        _csv("people_csv", "people", tmp / "in" / "people.csv"),
        _csv("missing_a", "a", tmp / "in" / "missing_a.csv", domain="x"),
        _csv("after_a", "a", tmp / "in" / "people.csv", domain="x"),
        _csv("missing_b", "b", tmp / "in" / "missing_b.csv", domain="y"),
        _clicks(tmp),
    ])
    seen = []
    with pytest.raises(Exception, match="missing_a.csv") as err:
        run(spark, yaml_path, ingest_date="2026-08-13",
            metrics_sink=lambda sid, m: seen.append(sid))
    assert seen == ["people_csv", "clicks_json"]
    assert any("missing_b" in note for note in err.value.__notes__)
    assert read_hub(spark, f"{tmp}/lake/hub/crm/people").count() == 3
    assert read_hub(spark, f"{tmp}/lake/hub/web/clicks").count() == 2
    assert not (tmp / "lake" / "hub" / "x").exists()  # after_a never ran


def test_run_lanes_equal_a_source_by_source_loop(spark, lake):
    """RAW, HUB and quarantine after a concurrent ``run`` hold the same
    rows as a ``run_source`` loop over the same sources."""
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import run_source
    from metadata_ingestion_poc_spark.metadata import load_sources

    tmp, yaml_path = lake
    with open(tmp / "in" / "clicks.json", "a") as f:
        f.write("{not json\n")
    run(spark, yaml_path, ingest_date="2026-08-13")
    loop = Config.from_defaults(
        {"raw_base": f"{tmp}/loop/raw", "hub_base": f"{tmp}/loop/hub"}
    )
    for source in load_sources(yaml_path).sources:
        if source.enabled:
            run_source(spark, source, loop, ingest_date="2026-08-13")

    def rows(path):
        df = spark.read.parquet(path).drop("_ingest_ts_utc")
        return sorted(map(repr, df.select(*sorted(df.columns)).collect()))

    zones = [f"{z}/{t}" for z in ("raw", "hub")
             for t in ("crm/people", "web/clicks", "sales/cube")]
    for zone in zones + ["raw_quarantine/web/clicks"]:
        assert rows(f"{tmp}/lake/{zone}") == rows(f"{tmp}/loop/{zone}"), zone
    assert len(rows(f"{tmp}/lake/raw_quarantine/web/clicks")) == 1


def test_caller_job_tag_owns_every_job_run_submits(spark, lake):
    """Lanes run on worker threads that inherit the caller's job tags,
    so a tag added before ``run`` owns all of its jobs."""
    tmp, yaml_path = lake
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()

    def jobs() -> set[int]:
        jvm_sc.listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    before = jobs()
    sc.addJobTag("ingest-lanes")
    try:
        run(spark, yaml_path, ingest_date="2026-08-13")
    finally:
        sc.removeJobTag("ingest-lanes")
    submitted = jobs() - before
    tagged = {int(j) for j in jvm_sc.statusTracker().getJobIdsForTag("ingest-lanes")}
    assert submitted and submitted <= tagged


def test_run_is_sequential_under_spark_connect(lake, monkeypatch):
    """Under Spark Connect the lanes run one after another on the
    calling thread, in YAML order, with the same result."""
    import threading

    import pyspark.sql.utils

    from metadata_ingestion_poc_spark import framework

    tmp, yaml_path = lake
    monkeypatch.setattr(pyspark.sql.utils, "is_remote", lambda: True)
    calls = []

    def fake_run_source(spark, source, cfg, ingest_date):
        calls.append((source.id, threading.get_ident()))
        return {"rows_ingested": 1}

    monkeypatch.setattr(framework, "run_source", fake_run_source)
    seen = []
    ids = ["people_csv", "clicks_json", "sales_olap"]
    assert run(None, yaml_path, metrics_sink=lambda s, m: seen.append(s)) == ids
    assert calls == [(sid, threading.get_ident()) for sid in ids]
    assert seen == ids
