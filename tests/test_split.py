"""Splitting operators: pagination."""

from pyspark.sql import functions as F


def test_pagination_pages_and_partial_last_page(spark):
    """S11: ``page_rows`` numbers rows by one ``row_number()`` over the
    order keys and counts them by one ``count(*)``; pages, previous,
    next and count follow, including on a partial last page."""
    from board_game_scraper_spark.operators.split import page_rows

    def paged(n):
        df = spark.range(n).select(F.col("id").alias("k"))
        return {r["k"]: r for r in
                page_rows(df, size=40, order_keys=["k"]).collect()}

    rows = paged(1000)
    assert len(rows) == 1000
    assert rows[0]["page"] == 0 and rows[0]["previous"] is None
    assert rows[39]["page"] == 0 and rows[40]["page"] == 1
    assert rows[999]["page"] == 24 and rows[999]["next"] is None
    assert all(r["count"] == 1000 for r in rows.values())

    rows = paged(1001)
    assert rows[1000]["page"] == 25 and rows[1000]["next"] is None
    assert rows[1000]["previous"] == 24
    assert rows[999]["page"] == 24 and rows[999]["next"] == 25
    assert all(r["count"] == 1001 for r in rows.values())
