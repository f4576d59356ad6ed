"""Driver contract (__spark_entry__.py): ``queries()`` is the plain
registry in registration order, each entry wrapped so the previous
entry's tracked persists are released before the next one runs, and
``oracle_sql()`` follows the same order."""

import __spark_entry__ as entry
from cartodb_importer_spark.caching import tracked
from cartodb_importer_spark.queries import ORACLES, QUERIES


def test_queries_are_the_registry_in_registration_order():
    assert list(entry.queries()) == list(QUERIES)


def test_oracle_sql_follows_registration_order():
    assert list(entry.oracle_sql()) == [n for n in QUERIES if n in ORACLES]
    assert all(entry.oracle_sql()[n] == ORACLES[n] for n in ORACLES)


def test_every_oracle_has_a_query():
    orphans = [n for n in ORACLES if n not in QUERIES]
    assert not orphans, f"oracles without queries: {orphans}"


def test_next_entry_releases_previous_entrys_tracked_persists(
    spark, monkeypatch
):
    held = []

    def persisting(spark, sf_dir):
        df = tracked(spark.range(10).persist())
        df.count()
        held.append(df)
        return df

    monkeypatch.setitem(QUERIES, "_contract_persisting", persisting)
    monkeypatch.setitem(QUERIES, "_contract_plain", lambda s, d: s.range(1))
    qs = entry.queries()
    qs["_contract_persisting"](spark, "unused")
    assert held[0].storageLevel.useMemory
    qs["_contract_plain"](spark, "unused")
    assert not held[0].storageLevel.useMemory
