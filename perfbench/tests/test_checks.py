"""A corrupted output is caught by the correctness check."""

import decimal

import duckdb
import pytest

from pdcmbench import api_serve, checks

COLS = ["pdcm_model_id", "histology", "dataset_available", "score"]
ROWS = [
    (1, "Diagnosis 1 Cancer", ["mutation", "expression"], 0.25),
    (2, "Diagnosis 2 Cancer", None, 1.5),
    (3, None, ["mutation"], 2.0),
]


def test_equal_results_pass_in_any_row_order():
    assert checks.compare((COLS, ROWS), (COLS, ROWS[::-1])) is None


def test_ordered_results_must_keep_their_order():
    assert checks.compare((COLS, ROWS), (COLS, ROWS[::-1]), ordered=True)


def test_float_rounding_in_the_last_digits_passes():
    drift = [r[:3] + (r[3] * (1 + 1e-12),) for r in ROWS]
    assert checks.compare((COLS, drift), (COLS, ROWS)) is None


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[:-1],                                    # row lost
    lambda rows: rows + rows[:1],                              # duplicate
    lambda rows: [(9,) + rows[0][1:]] + rows[1:],              # wrong key
    lambda rows: [rows[0][:1] + ("x",) + rows[0][2:]] + rows[1:],
    lambda rows: [rows[0][:2] + (["mutation"],) + rows[0][3:]] + rows[1:],
    lambda rows: [rows[0][:3] + (0.26,)] + rows[1:],
])
def test_corrupted_rows_are_caught(corrupt):
    assert checks.compare((COLS, corrupt(list(ROWS))), (COLS, ROWS))


def test_renamed_column_is_caught():
    assert checks.compare((COLS[:-1] + ["scores"], ROWS), (COLS, ROWS))


def test_decimal_scale_is_part_of_the_value():
    a = [(decimal.Decimal("1.50"),)]
    b = [(decimal.Decimal("1.5"),)]
    assert checks.compare((["x"], a), (["x"], b))


@pytest.fixture()
def release(tmp_path):
    """A two-entity release written by DuckDB in the sink's layout."""
    con = duckdb.connect()
    (tmp_path / "search_index").mkdir()
    (tmp_path / "cell_sample").mkdir()
    (tmp_path / "cell_sample" / "_SUCCESS").write_text("")
    con.execute(
        "COPY (SELECT i AS pdcm_model_id, 'site' || (i % 3) AS primary_site "
        "FROM range(30) t(i)) TO "
        f"'{tmp_path}/search_index/part-0.parquet' (FORMAT parquet)")
    return tmp_path


def test_facet_response_checked_against_duckdb(release):
    con, missing = checks.release_connection(
        str(release), ["search_index", "cell_sample"])
    assert missing == ["cell_sample"]
    oracle = api_serve.FACETS["models_by_primary_site"]
    good = checks.duck_result(con, oracle)
    assert checks.compare(good, checks.duck_result(con, oracle)) is None
    cols, rows = good
    bad = [rows[0][:1] + (rows[0][1] + 1,)] + rows[1:]
    assert checks.compare((cols, bad), good)
