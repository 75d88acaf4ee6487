"""The refresh's label encoding, done on the driver by
``recommend.queries._dictionary``: its codes and its md5 split against
DuckDB, and a loud failure on a NULL id.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pytest

from e_commerce_data_warehouse_recommendation_system_spark.recommend import queries as rq
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import prepare
from tests.conftest import SF0001

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_correctness import duck_connect  # noqa: E402


@pytest.mark.slow  # trains a model
def test_refresh_codes_and_split_equal_duckdb(spark):
    """At sf0.001 the refresh's user and item codes equal DuckDB's
    ``DENSE_RANK() OVER (ORDER BY id) - 1``, and its ``train``/``test``
    frames and held-out pairs hold exactly the md5 split of the encoded
    interactions."""
    prepare(spark, SF0001)
    art = rq._artifacts(spark, SF0001)
    con = duck_connect(SF0001)
    try:
        con.execute(
            f"""
            CREATE TEMP TABLE enc AS
            WITH inter AS ({rq._SQL_INTERACTIONS}),
            u AS (SELECT user_id, CAST(DENSE_RANK() OVER (ORDER BY user_id) - 1 AS INT) AS idx
                  FROM (SELECT DISTINCT user_id FROM inter)),
            i AS (SELECT item_id, CAST(DENSE_RANK() OVER (ORDER BY item_id) - 1 AS INT) AS idx
                  FROM (SELECT DISTINCT item_id FROM inter))
            SELECT inter.item_id, inter.user_id, u.idx AS user_idx, i.idx AS item_idx,
                   substr(md5(CAST(inter.user_id AS VARCHAR) || ':'
                              || CAST(inter.item_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2') AS is_test
            FROM inter JOIN u USING (user_id) JOIN i USING (item_id)
            """
        )
        users = con.execute("SELECT DISTINCT user_id, user_idx FROM enc ORDER BY 1").fetchall()
        items = con.execute("SELECT DISTINCT item_id, item_idx FROM enc ORDER BY 1").fetchall()

        def split(is_test):
            return con.execute(
                "SELECT item_id, user_id, user_idx, item_idx, 1.0 FROM enc "
                f"WHERE is_test = {is_test} ORDER BY 1, 2"
            ).fetchall()

        train, test = split("false"), split("true")
    finally:
        con.close()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(art["users"]) == users and len(users) == art["counts"]["n_users"]
    assert rows(art["items"]) == items and len(items) == art["counts"]["n_items"]
    assert rows(art["train"]) == train
    assert rows(art["test"]) == test and len(test) == art["counts"]["n_test"]
    assert len(train) + len(test) == art["counts"]["n_interactions"]
    held = sorted(zip(*(a.tolist() for a in rq._held_out(art))))
    assert held == sorted((u, i) for i, u, *_ in test)


def test_dictionary_rejects_a_null_id():
    """A NULL id has no code: the encoder names the column and raises,
    rather than letting numpy turn the ids to float."""
    t = pa.table({"user_id": pa.array([3, None, 1], pa.int64()), "item_id": [7, 7, 8]})
    with pytest.raises(ValueError, match="user_id"):
        rq._dictionary(t, "user_id")
    ids, codes = rq._dictionary(t, "item_id")
    assert ids.tolist() == [7, 8] and codes.tolist() == [0, 0, 1]
    assert codes.dtype.name == "int32"
