"""/tags/autoComplete/{tags,values} — SURVEY.md §2.4 A8, §2.6 L1.

Reference shape (autocomplete/autocomplete.go:350-374 tags, :639-657
values): one SQL `SELECT <key-or-value expr> FROM tagged WHERE <compiled
exprs + prefix + date> GROUP BY value ORDER BY value LIMIT n`, then a small
driver-side post-pass (rename __name__ -> name, drop tags already used in
the exprs, ensure "name" is offered, re-sort, truncate — :442-475).

Spark shape: the tagged table carries a MAP<STRING,STRING> `tags` column,
so "which keys exist" is `explode(map_keys(tags))` and "values of tag k" is
`tags['k']` — both pure JVM expressions; the distinct/sort/limit runs on
the tag universe (small), never the points table. Filters from `exprs`
reuse the seriesByTag term compiler (plans/tagged.py), so predicate
pushdown into the parquet scan is identical to the find path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tagged import parse_tagged_conditions, tagged_predicate


def tagged_window(
    tagged: DataFrame, days: int, now_ts: int | None, date_mode: str = "utc"
) -> DataFrame:
    """Bound the tags table to the last `days` days (autocomplete.go:302,
    586 dateString: Date BETWEEN today-days AND today). The reference
    always applies this — it is what keeps autocomplete latency flat as
    retention grows (scan tracks the window, not history). No-op when the
    table carries no date column or days <= 0."""
    if days <= 0 or now_ts is None or "date" not in tagged.columns:
        return tagged
    from ..functions.date import date_bounds

    lo, hi = date_bounds(now_ts - days * 86400, now_ts, date_mode)
    return tagged.filter(F.col("date").between(lo, hi))


def _filtered(
    tagged: DataFrame, exprs: list[str] | None, flags: "FeatureFlags | None" = None
) -> tuple[DataFrame, set[str]]:
    """Apply seriesByTag-style exprs; returns (filtered df, used tag keys)."""
    from .tagged import FeatureFlags

    if not exprs:
        return tagged, set()
    terms = parse_tagged_conditions(exprs)
    pred = tagged_predicate(terms, F.col("tags"), flags=flags or FeatureFlags())
    used = {("name" if t.key == "__name__" else t.key) for t in terms}
    return tagged.filter(pred), used


def tag_keys_df(
    tagged: DataFrame,
    exprs: list[str] | None = None,
    tag_prefix: str = "",
    limit: int = 10000,
    flags=None,
    days: int = 0,
    now_ts: int | None = None,
    date_mode: str = "utc",
) -> DataFrame:
    """Distinct tag keys -> single `value` column, __name__ surfaced as
    'name', used tags removed, sorted, limited (autocomplete.go:350-374,
    post-pass :442-475). days/now_ts bound the scan to the
    tagged-autocomplete-days window."""
    tagged = tagged_window(tagged, days, now_ts, date_mode)
    df, used = _filtered(tagged, exprs, flags)
    keys = (
        df.select(F.explode(F.map_keys("tags")).alias("value"))
        .withColumn(
            "value", F.when(F.col("value") == "__name__", F.lit("name")).otherwise(F.col("value"))
        )
        .distinct()
    )
    if tag_prefix:
        keys = keys.filter(F.col("value").startswith(tag_prefix))
    if used:
        keys = keys.filter(~F.col("value").isin(sorted(used)))
    return keys.orderBy("value").limit(limit)


def autocomplete_tags(
    tagged: DataFrame,
    exprs: list[str] | None = None,
    tag_prefix: str = "",
    limit: int = 10000,
    days: int = 0,
    now_ts: int | None = None,
    date_mode: str = "utc",
    flags=None,
) -> list[str]:
    """Full endpoint semantics: the DataFrame plan above plus the
    driver-side guarantee that 'name' is offered when it fits the prefix
    (autocomplete.go:462-467)."""
    _, used = _filtered(tagged, exprs, flags)
    tags = [
        r.value
        for r in tag_keys_df(
            tagged, exprs, tag_prefix, limit, flags=flags, days=days,
            now_ts=now_ts, date_mode=date_mode,
        ).collect()
    ]
    if (
        "name" not in tags
        and "name" not in used
        and (tag_prefix == "" or "name".startswith(tag_prefix))
    ):
        tags.append("name")
    tags.sort()
    return tags[:limit]


def tag_values_df(
    tagged: DataFrame,
    tag: str,
    exprs: list[str] | None = None,
    value_prefix: str = "",
    limit: int = 10000,
    flags=None,
    days: int = 0,
    now_ts: int | None = None,
    date_mode: str = "utc",
) -> DataFrame:
    """Distinct values of one tag -> single `value` column, sorted, limited
    (autocomplete.go:620-657; 'name' aliases __name__)."""
    key = "__name__" if tag == "name" else tag
    tagged = tagged_window(tagged, days, now_ts, date_mode)
    df, _used = _filtered(tagged, exprs, flags)
    vals = df.select(F.col("tags").getItem(key).alias("value")).filter(
        F.col("value").isNotNull()
    )
    if value_prefix:
        vals = vals.filter(F.col("value").startswith(value_prefix))
    return vals.distinct().orderBy("value").limit(limit)
