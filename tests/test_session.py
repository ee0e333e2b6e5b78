"""Session tuning: one list of SQL confs, and explicit arguments win.

Runs in a subprocess so the shared test session's confs are not touched."""

from __future__ import annotations

from tests.conftest import SF_SMOKE, run_python


def test_load_table_keeps_get_spark_partitions():
    code = (
        "from map_reduce485_spark import get_spark;"
        "from map_reduce485_spark.catalog import load_table;"
        "s = get_spark('conf_proc', cpus=2, shuffle_partitions=2);"
        f"load_table(s, {SF_SMOKE!r}, 'region');"
        "print('BUILT', s.conf.get('spark.sql.shuffle.partitions'));"
        # a session get_spark did not tune is tuned on first load
        "p = s.newSession(); p.conf.set('spark.sql.session.timeZone', 'America/Chicago');"
        f"load_table(p, {SF_SMOKE!r}, 'region');"
        "print('PLAIN', p.conf.get('spark.sql.shuffle.partitions'),"
        " p.conf.get('spark.sql.session.timeZone'))"
    )
    lines = run_python(code)
    assert "BUILT 2" in lines
    assert "PLAIN 8 UTC" in lines


def test_sql_surface_queries_tune_plain_session():
    """The SQL-surface queries register their views through the catalog, so
    a session get_spark did not build comes out tuned."""
    names = (
        "grouping_sets_agg",
        "exists_subquery_parts",
        "scalar_and_in_subquery",
        "lateral_topn_per_key",
    )
    code = (
        "from map_reduce485_spark import get_spark;"
        "from map_reduce485_spark.queries import all_queries;"
        "qs = all_queries();"
        "s = get_spark('conf_proc', cpus=2, shuffle_partitions=2);"
        f"\nfor name in {names!r}:\n"
        "    p = s.newSession(); p.conf.set('spark.sql.session.timeZone', 'America/Chicago')\n"
        f"    assert qs[name](p, {SF_SMOKE!r}).count() > 0\n"
        "    print(name, p.conf.get('spark.sql.shuffle.partitions'),"
        " p.conf.get('spark.sql.session.timeZone'))"
    )
    lines = run_python(code)
    for name in names:
        assert f"{name} 8 UTC" in lines
