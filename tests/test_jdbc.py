"""Real JDBC staged-publish test against embedded Derby (ships with Spark).
Proves the df.write.jdbc path, the DDL-over-DriverManager path, and the
staging+rename+rollback protocol end-to-end against an actual SQL database
— production-parity with the reference's Postgres flow modulo dialect.
"""

import pytest

from cartodb_importer_spark.importer import Importer
from cartodb_importer_spark.sinks.catalog import JdbcCatalog


@pytest.fixture
def jdbc_catalog(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    return JdbcCatalog(spark, url, dialect="derby", num_partitions=2)


def test_jdbc_publish_and_read(spark, jdbc_catalog):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
        "id int, name string, score double",
    )
    rows = jdbc_catalog.publish(df, "scores")
    assert rows == 3
    assert "scores" in [t.lower() for t in jdbc_catalog.table_names()]
    back = jdbc_catalog.read(spark, "scores")
    assert sorted(r["name"] for r in back.collect()) == ["a", "b", "c"]
    # no staging leftovers
    assert not any(
        t.lower().startswith("importing_") for t in jdbc_catalog.table_names()
    )


def test_jdbc_publish_never_clobbers(spark, jdbc_catalog):
    df = spark.createDataFrame([(1,)], "id int")
    jdbc_catalog.publish(df, "t1")
    with pytest.raises(ValueError, match="already exists"):
        jdbc_catalog.publish(spark.createDataFrame([(9,)], "id int"), "t1")
    back = jdbc_catalog.read(spark, "t1").collect()
    assert [r["id"] for r in back] == [1]
    assert not any(
        t.lower().startswith("importing_") for t in jdbc_catalog.table_names()
    )


def test_importer_to_jdbc_end_to_end(spark, jdbc_catalog, tmp_path):
    """The reference's headline flow: CSV file -> georeferenced SQL table."""
    p = tmp_path / "stores.csv"
    p.write_text("id,city,latitude,longitude\n1,madrid,40.4,-3.7\n2,oslo,59.9,10.7\n")
    res = Importer(spark, jdbc_catalog, str(p)).run()
    assert res.rows_imported == 2
    back = jdbc_catalog.read(spark, res.name)
    rows = {r["city"]: r["the_geom"] for r in back.collect()}
    assert rows["madrid"] == "POINT(-3.7 40.4)"


def _pg_url():
    """Postgres integration target from env (SPARK_GRAFT_PG_URL, e.g.
    jdbc:postgresql://localhost:5432/test?user=postgres&password=pg).
    Returns None when no Postgres is reachable — tests skip."""
    import os

    return os.environ.get("SPARK_GRAFT_PG_URL")


@pytest.fixture
def pg_catalog(spark):
    url = _pg_url()
    if not url:
        pytest.skip("no Postgres target (set SPARK_GRAFT_PG_URL to run)")
    cat = JdbcCatalog(spark, url, dialect="postgresql", num_partitions=2)
    try:
        cat.table_names()
    except Exception as e:
        pytest.skip(f"Postgres unreachable: {e}")
    return cat


def test_postgres_staged_publish_and_rollback(spark, pg_catalog, tmp_path):
    """The reference's atomicity contract against real Postgres
    (importer.rb:355,389; spec/import_spec.rb:23-52): staged write under
    importing_*, atomic rename on success, no staging leftovers on
    failure, existing tables never clobbered."""
    df = spark.createDataFrame(
        [(1, "a", "POINT(1 2)"), (2, "b", "POINT(3 4)")],
        "id int, name string, the_geom string",
    )
    for t in ("pgtest", "importing_pgtest"):
        pg_catalog.drop(t)
    try:
        rows = pg_catalog.publish(df, "pgtest")
        assert rows == 2
        names = [t.lower() for t in pg_catalog.table_names()]
        assert "pgtest" in names
        assert not any(n.startswith("importing_") for n in names)
        # publish onto an existing name must refuse and leave no staging
        with pytest.raises(ValueError, match="already exists"):
            pg_catalog.publish(df, "pgtest")
        names = [t.lower() for t in pg_catalog.table_names()]
        assert not any(n.startswith("importing_") for n in names)
        back = pg_catalog.read(spark, "pgtest")
        assert sorted(r["name"] for r in back.collect()) == ["a", "b"]
    finally:
        for t in ("pgtest", "importing_pgtest"):
            pg_catalog.drop(t)


def test_postgres_importer_end_to_end(spark, pg_catalog, tmp_path):
    """CSV -> georeferenced table in real Postgres, the reference's
    headline flow (spec/import_spec.rb:23)."""
    p = tmp_path / "pgstores.csv"
    p.write_text("id,city,latitude,longitude\n1,lyon,45.76,4.83\n")
    pg_catalog.drop("pgstores")
    try:
        res = Importer(spark, pg_catalog, str(p)).run()
        assert res.rows_imported == 1
        rows = pg_catalog.read(spark, res.name).collect()
        assert rows[0]["the_geom"] == "POINT(4.83 45.76)"
    finally:
        pg_catalog.drop("pgstores")


def test_versioned_publish_keeps_snapshots(spark, tmp_path):
    """VersionedLocalCatalog: re-publishing replaces the live table
    atomically and retains prior snapshots as readable versions, pruned
    oldest-first past keep_versions."""
    from cartodb_importer_spark.sinks.catalog import VersionedLocalCatalog

    cat = VersionedLocalCatalog(str(tmp_path / "wh"), keep_versions=2)
    for i in range(4):
        df = spark.range(i * 10, i * 10 + 3).selectExpr("id", f"{i} AS gen")
        cat.publish_version(df, "t")
    # live = gen 3
    live = cat.read(spark, "t")
    assert sorted(r.gen for r in live.collect()) == [3, 3, 3]
    # two retained snapshots: gens 1 and 2 (gen 0 pruned)
    vs = cat.versions("t")
    assert len(vs) == 2
    gens = sorted(
        cat.read_version(spark, "t", v).collect()[0].gen for v in vs
    )
    assert gens == [1, 2]
    # version dirs don't leak into the table listing
    assert cat.table_names() == ["t"]


def test_versioned_publish_failure_leaves_live_intact(spark, tmp_path):
    from cartodb_importer_spark.sinks.catalog import VersionedLocalCatalog

    cat = VersionedLocalCatalog(str(tmp_path / "wh"))
    cat.publish_version(
        spark.createDataFrame([(1,)], "id int"), "t"
    )

    class Boom(Exception):
        pass

    bad = spark.createDataFrame([(2,)], "id int")
    orig_write = cat.write

    def failing_write(df, name):
        raise Boom()

    cat.write = failing_write
    try:
        import pytest as _pytest

        with _pytest.raises(Boom):
            cat.publish_version(bad, "t")
    finally:
        cat.write = orig_write
    assert [r.id for r in cat.read(spark, "t").collect()] == [1]
    assert cat.versions("t") == []


def test_pgwire_text_format_helpers():
    """Server-free unit checks of the wire/text-format helpers backing
    the live-Postgres suite (which is env-gated on server binaries)."""
    from cartodb_importer_spark.sinks.catalog import JdbcCatalog
    from cartodb_importer_spark.sinks.pgwire import PgError, PgWireExecutor

    esc = PgWireExecutor.copy_escape
    assert esc("a\tb\nc\\d\r") == "a\\tb\\nc\\\\d\\r"
    assert esc("plain") == "plain"

    lit = JdbcCatalog._sql_literal
    assert lit(None) == "NULL"
    assert lit(True) == "TRUE" and lit(False) == "FALSE"
    assert lit(3) == "3" and lit(2.5) == "2.5"
    assert lit("it's") == "'it''s'"
    # non-finite floats: repr() would emit bare identifiers (nan/inf)
    # that Postgres parses as column references — must be quoted
    assert lit(float("nan")) == "'NaN'"
    assert lit(float("inf")) == "'Infinity'"
    assert lit(float("-inf")) == "'-Infinity'"

    fields = PgWireExecutor._error_fields(
        b"SERROR\x00C42P07\x00Mrelation exists\x00\x00"
    )
    err = PgError(fields)
    assert err.code == "42P07" and "relation exists" in str(err)


def test_pgwire_fatal_error_surfaces_diagnostics(monkeypatch):
    """A FATAL ErrorResponse followed by connection close (no
    ReadyForQuery) must raise PgError with the server's diagnostics, not
    the raw socket EOF."""
    import pytest as _pytest

    from cartodb_importer_spark.sinks.pgwire import PgError, PgWireExecutor

    ex = PgWireExecutor.__new__(PgWireExecutor)

    class FakeSock:
        def close(self):
            pass

    msgs = [(b"E", b"SFATAL\x00C57P01\x00Mterminating connection\x00\x00")]

    def fake_read(sock):
        if msgs:
            return msgs.pop(0)
        raise ConnectionError("postgres closed the connection")

    monkeypatch.setattr(ex, "_connect", lambda: FakeSock())
    monkeypatch.setattr(ex, "_send", lambda *a, **k: None)
    monkeypatch.setattr(ex, "_read_message", fake_read)
    with _pytest.raises(PgError) as ei:
        ex._simple_query("SELECT 1")
    assert ei.value.code == "57P01"

    msgs.append(
        (b"E", b"SFATAL\x00C57P01\x00Mterminating connection\x00\x00")
    )
    with _pytest.raises(PgError):
        ex.copy_in("COPY t FROM STDIN", ["1\tx"])


def test_publish_version_crash_between_renames_recovers(spark, tmp_path):
    """r11: a publish_version that dies between rename(name -> @vN) and
    rename(staging -> name) used to leave the live name missing until a
    later publish. The retry must restore the snapshotted table first and
    then re-snapshot it, so no publish is lost and reads of the live name
    work after the replay."""
    import pytest

    from cartodb_importer_spark.sinks.catalog import VersionedLocalCatalog

    class Boom(Exception):
        pass

    cat = VersionedLocalCatalog(str(tmp_path / "wh"), keep_versions=3)
    v1 = spark.createDataFrame([(1, "one")], "id long, v string")
    v2 = spark.createDataFrame([(2, "two")], "id long, v string")
    cat.publish_version(v1, "t")

    real_rename, calls = cat.rename, {"n": 0}

    def crashing_rename(old, new):
        calls["n"] += 1
        if calls["n"] == 2:  # after name -> @v1, before staging -> name
            raise Boom()
        real_rename(old, new)

    cat.rename = crashing_rename
    with pytest.raises(Boom):
        cat.publish_version(v2, "t")
    cat.rename = real_rename

    # crashed state: live name gone, the data lives in the version slot
    assert not cat.exists("t") and cat.versions("t") == [1]

    # the retried publish restores, re-snapshots, and lands v2 live
    cat.publish_version(v2, "t")
    assert [r["v"] for r in cat.read(spark, "t").collect()] == ["two"]
    assert cat.versions("t") == [1]
    assert [
        r["v"] for r in cat.read_version(spark, "t", 1).collect()
    ] == ["one"]
