"""DataFrame binding for the extraction tier.

The reference scrapes one document per call (Scrape.hs:78-86); here a
corpus is a DataFrame with an ``html`` column and extraction is an
Arrow-batched ``mapInPandas`` over it — the UDTF-like shape: one input
row (page) → N output rows (records). No per-row Python UDFs anywhere
(input_hint mandate); the per-batch loop runs the pure-Python core once
per document over an Arrow batch.

Scale notes (100 TB corpus):

* the UDF is preceded by ``select`` on exactly the needed columns, so
  Catalyst prunes the parquet scan to carried + html columns;
* ``selector_prefilter`` derives a cheap JVM-side pre-filter from the
  selector AST (e.g. ``html RLIKE '(?i)<img'``) — Catalyst can't see
  inside the UDF, so we emit the pushdown ourselves (SURVEY §4.2);
* Arrow batch size is bounded in the session config so fat html rows
  can't blow Python-worker memory.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index import parse_spec
from ..scraper import FAIL, Scraper
from ..selector import Selector, to_selector
from .util import map_rows, spread


def selector_prefilter(selector, html_col: str = "html") -> Column | None:
    """Cheap, *sound* (no false negatives) Catalyst-side pre-filter for a
    selector: a page can only match ``tag(name)``-rooted selectors if the
    literal ``<name`` appears (case-insensitively) in the raw html."""
    sel = to_selector(selector)
    if not sel.path:
        return None
    node = sel.path[0][0]
    if node[0] != "tag":
        return None
    import re as _re

    name = _re.escape(node[1])
    return F.col(html_col).rlike(f"(?i)<{name}[\\s/>]|(?i)<{name}$")


def _value_to_row(value, names: Sequence[str]) -> tuple:
    """One scraped value → the tuple of the ``names`` output fields."""
    if isinstance(value, dict):
        return tuple(value.get(n) for n in names)
    if isinstance(value, tuple):
        return value
    if isinstance(value, list) and len(value) == len(names) > 1:
        return tuple(value)
    return (value,)


def _carry_first(in_df: DataFrame, carry_cols: list, out_schema) -> T.StructType:
    """Carry columns (input types) first, then the extracted fields."""
    if isinstance(out_schema, str):
        out_schema = T._parse_datatype_string(out_schema)
    return T.StructType([in_df.schema[c] for c in carry_cols] + out_schema.fields)


def extract_records(
    df: DataFrame,
    scraper: Scraper,
    out_schema,
    html_col: str = "html",
    carry_cols: Sequence[str] = (),
    explode: bool = True,
    prefilter=None,
) -> DataFrame:
    """Run ``scraper`` over ``df[html_col]``; emit one output row per
    result element (``explode=True``, for plural scrapers returning
    lists) or per successful document. Failed scrapes emit nothing —
    the ``Maybe``/dropped-row mapping (Scrape.hs:84-86, 108-113).

    ``out_schema``: DDL string or StructType for the extracted fields.
    ``carry_cols``: input columns copied onto every output row.
    ``prefilter``: optional Column (or a Selector, from which a sound
    pre-filter is derived) applied before the Python stage.
    """
    carry_cols = list(carry_cols)
    in_df = df
    if prefilter is not None:
        if isinstance(prefilter, (Selector, str)):
            pf = selector_prefilter(prefilter, html_col)
        else:
            pf = prefilter
        if pf is not None:
            in_df = in_df.filter(pf)
    in_df = spread(in_df.select(*carry_cols, html_col))
    schema = _carry_first(in_df, carry_cols, out_schema)
    names = schema.fieldNames()[len(carry_cols) :]
    run = scraper.run

    def records(doc) -> list:
        if doc is None:
            return []
        v = run(parse_spec(doc))
        if v is FAIL:
            return []
        items = v if (explode and isinstance(v, list)) else [v]
        return [_value_to_row(item, names) for item in items]

    return map_rows(in_df, [html_col], schema, records, carry_cols=carry_cols)


def extract_records_with_errors(
    df: DataFrame,
    scraper: Scraper,
    out_schema,
    html_col: str = "html",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """The effect-stack binding (reference ``ScraperT str (Either/Writer)``,
    Scrape.hs:50-52, examples/error-handling*/Main.hs): one output row
    per input page — NEVER dropped — with the scraped fields null on
    failure plus ``errors array<string>`` (throw_error channel) and
    ``log array<string>`` (tell channel). Failures become data a
    pipeline can route/alert on instead of silent row loss."""
    from ..scraper import scrape_with_effects

    carry_cols = list(carry_cols)
    in_df = spread(df.select(*carry_cols, html_col))
    schema = _carry_first(in_df, carry_cols, out_schema)
    names = schema.fieldNames()[len(carry_cols) :]
    strings = T.ArrayType(T.StringType())
    schema = schema.add("errors", strings).add("log", strings)

    def record(doc) -> list:
        if doc is None:
            return [(None,) * len(names) + (["null html"], [])]
        v, errors, log = scrape_with_effects(doc, scraper)
        row = _value_to_row(v, names) if v is not None else (None,) * len(names)
        return [tuple(row[: len(names)]) + (errors, log)]

    return map_rows(in_df, [html_col], schema, record, carry_cols=carry_cols)
