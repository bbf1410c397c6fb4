"""sstats for a user with a single event: the sample sd/var need two
values, so both engines must emit NULL — Spark under ANSI mode (the
Spark 4 default, which the shared test session turns off) and DuckDB."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from diive_spark.queries import SQL_SSTATS, q_sstats


def test_sstats_single_event_user_ansi_matches_duckdb(spark, sf_dir, tmp_path):
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    u_many, u_one = sorted(set(ev.column("user_id").to_pylist()))[:2]
    many = ev.filter(pc.equal(ev["user_id"], u_many))
    one = ev.filter(pc.equal(ev["user_id"], u_one)).slice(0, 1)
    pq.write_table(pa.concat_tables([many, one]), tmp_path / "events.parquet")

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = sorted(tuple(r) for r in q_sstats(spark, str(tmp_path)).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    want = sorted(con.execute(SQL_SSTATS).fetchall())
    assert got == want
    # columns: user_id, n_vals, mean_e4, sd_e4, var_e4, ...
    by_user = {r[0]: r for r in got}
    assert (by_user[u_one][1], by_user[u_one][3], by_user[u_one][4]) == (
        1, None, None,
    )
    assert None not in by_user[u_many][3:5]
