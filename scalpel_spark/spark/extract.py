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

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index import parse_spec
from ..scraper import FAIL, Scraper
from ..selector import Selector, to_selector


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


def _value_to_row(value, n_fields: int):
    if n_fields == 1 and not isinstance(value, (tuple, dict)):
        return (value,)
    if isinstance(value, dict):
        return value
    if isinstance(value, tuple):
        return value
    if isinstance(value, list) and len(value) == n_fields:
        return tuple(value)
    return (value,)


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
    if isinstance(out_schema, str):
        out_struct = T._parse_datatype_string(out_schema)
    else:
        out_struct = out_schema
    carry_cols = list(carry_cols)
    in_df = df
    if prefilter is not None:
        if isinstance(prefilter, (Selector, str)):
            pf = selector_prefilter(prefilter, html_col)
        else:
            pf = prefilter
        if pf is not None:
            in_df = in_df.filter(pf)
    from .util import spread

    in_df = spread(in_df.select(*carry_cols, html_col))

    carry_struct = [in_df.schema[c] for c in carry_cols]
    full_schema = T.StructType(carry_struct + list(out_struct.fields))
    out_names = [f.name for f in out_struct.fields]
    n_fields = len(out_names)
    all_names = carry_cols + out_names

    def gen(batches: Iterable[pd.DataFrame]):
        run = scraper.run
        for pdf in batches:
            cols: dict = {name: [] for name in all_names}
            htmls = pdf[html_col].tolist()
            carries = [pdf[c].tolist() for c in carry_cols]
            for i, doc in enumerate(htmls):
                if doc is None:
                    continue
                v = run(parse_spec(doc))
                if v is FAIL:
                    continue
                items = v if (explode and isinstance(v, list)) else [v]
                for item in items:
                    row = _value_to_row(item, n_fields)
                    if isinstance(row, dict):
                        for name in out_names:
                            cols[name].append(row.get(name))
                    else:
                        for name, val in zip(out_names, row):
                            cols[name].append(val)
                    for c, vals in zip(carry_cols, carries):
                        cols[c].append(vals[i])
            yield pd.DataFrame({name: cols[name] for name in all_names})

    return in_df.mapInPandas(gen, schema=full_schema)


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

    if isinstance(out_schema, str):
        out_struct = T._parse_datatype_string(out_schema)
    else:
        out_struct = out_schema
    carry_cols = list(carry_cols)
    from .util import spread

    in_df = spread(df.select(*carry_cols, html_col))
    carry_struct = [in_df.schema[c] for c in carry_cols]
    full_schema = T.StructType(
        carry_struct
        + list(out_struct.fields)
        + [
            T.StructField("errors", T.ArrayType(T.StringType())),
            T.StructField("log", T.ArrayType(T.StringType())),
        ]
    )
    out_names = [f.name for f in out_struct.fields]
    n_fields = len(out_names)
    all_names = carry_cols + out_names + ["errors", "log"]

    def gen(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            cols: dict = {name: [] for name in all_names}
            htmls = pdf[html_col].tolist()
            carries = [pdf[c].tolist() for c in carry_cols]
            for i, doc in enumerate(htmls):
                v, errors, log = (
                    scrape_with_effects(doc, scraper)
                    if doc is not None
                    else (None, ["null html"], [])
                )
                row = _value_to_row(v, n_fields) if v is not None else (None,) * n_fields
                if isinstance(row, dict):
                    for name in out_names:
                        cols[name].append(row.get(name))
                else:
                    for name, val in zip(out_names, row):
                        cols[name].append(val)
                cols["errors"].append(errors)
                cols["log"].append(log)
                for c, vals in zip(carry_cols, carries):
                    cols[c].append(vals[i])
            yield pd.DataFrame({name: cols[name] for name in all_names})

    return in_df.mapInPandas(gen, schema=full_schema)

