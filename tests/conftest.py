import pytest

from keras_ocr_spark.plans.session import build_session


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: spark-submit end-to-end tests that take minutes")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="keras_ocr_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle_rows():
    """Run DuckDB SQL over ``rows`` (``(doc_id, text)`` pairs) registered
    as ``documents``, the table every query oracle reads."""
    import duckdb
    import pandas as pd

    def run(sql, rows):
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        return con.execute(sql).fetchall()

    return run


@pytest.fixture(scope="session")
def minhash_oracle(oracle_rows):
    """``rows -> {id: signature}`` from the DuckDB MinHash CTEs the
    registered oracles share (``_SHINGLES_SQL`` + ``_minhash_sql_components``)."""
    from keras_ocr_spark.driver_queries import _SHINGLES_SQL, _minhash_sql_components

    def run(rows, n_hashes=16):
        sql = f"""
        WITH sh0 AS ({_SHINGLES_SQL}),
        digs AS (
          SELECT id, list_transform(shingles, s -> md5(s) || md5(s || '#')) AS digests
          FROM sh0 WHERE len(shingles) > 0)
        SELECT id, [{_minhash_sql_components(n_hashes)}] AS signature FROM digs
        """
        return {i: list(sig) for i, sig in oracle_rows(sql, rows)}

    return run
