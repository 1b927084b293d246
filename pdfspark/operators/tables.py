"""EP3 — table reconstruction (SURVEY.md §3 EP3, §2.3 J2/J3/J7,
§2.4 A3/A4, §2.5 W2/W4).

Two implementations:

* ``extract_tables_exact`` — reproduces the reference fold *verbatim*
  per (doc_id, page_id), including its quirks (stale row anchor after
  titles, pre-title row leaking into the first table, empty-row
  emission): ref src/table_extractor.py:185-222
  (extract_table_content) then :9-117 (textboxes_to_tabular_json).
  This is the parity path, checked span-for-span by pytest against the
  pure-Python oracle.

* ``extract_tables_sql`` — pure DataFrame fast path with the
  *intended* semantics (titles open tables, lag-based row islands,
  no leaks). 100% Catalyst: window + groupBy, zero Python. This is
  the path the DuckDB oracle checks and the one benchmarked at scale.

``merge_continued_tables`` (J3) then folds '(continued)' fragments
into their base table in one sequential pass per document.

Shuffle story: the SQL path shuffles once on (doc_id) — the window
key prefix — then aggregates map-side. The exact fold and the merge
each shuffle once on their group key ((doc_id, page_id), resp.
doc_id) and sort inside the partition; ``pdfspark.udf.map_groups``
then hands Python many whole pages (documents) per Arrow batch
instead of one ``applyInPandas`` group per page.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfspark.config import Y_TOLERANCE
from pdfspark.functions import patterns as P
from pdfspark.operators.reading_order import with_reading_order
from pdfspark.udf import map_groups

TABLE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_id", T.IntegerType()),
        T.StructField("table_id", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("row_id", T.IntegerType()),
        T.StructField("cells", T.ArrayType(T.StringType())),
    ]
)


# ---------------------------------------------------------------------------
# exact-parity path
# ---------------------------------------------------------------------------

def fold_tables_page(textboxes: list[dict], header: str, footer: str,
                     y_tolerance: float = Y_TOLERANCE) -> list[dict]:
    """Verbatim port of the two-stage reference fold for ONE page.

    ``textboxes``: dicts with text/x0/y0/x1/y1, already in reading
    order (-y1, x1). Returns flat rows
    (table_id, title, row_id, cells).
    Ref: src/table_extractor.py:185-222 then :9-117.
    """
    # stage 1 — extract_table_content: before the first table title the
    # header/footer/page-number strips are inactive; continued-prefix
    # guard uses re.match (dead in practice, titles start with 'Table').
    found_table = False
    stage1 = []
    for tb in textboxes:
        # NULL text coerced like every other span path (pdfminer always
        # yields str, but the spans_geom column is nullable; '' is
        # outcome-equivalent to the SQL path's contains('')-drop)
        text = tb["text"] or ""
        if found_table:
            if text in header or text in footer:
                continue
            if P.RE_PAGE_NUMBER.match(text):
                continue
        m = P.RE_TABLE_TITLE.match(text)
        if m:
            title = m.group(0).strip()
            if not re.match(P.CONTINUED, title, re.IGNORECASE):
                stage1.append(tb)
                found_table = True
        else:
            stage1.append(tb)

    # stage 2 — textboxes_to_tabular_json (all quirks preserved).
    tables: list[dict] = []
    current_row: list[dict] = []
    current_y = None
    current_table = None

    def flush_row(table):
        srt = sorted(current_row, key=lambda t: t["x0"])
        table["rows"].append([t["text"] for t in srt])

    for tb in stage1:
        content = (tb["text"] or "").replace("\n", "").strip()
        if content in header or content in footer:
            continue
        if P.RE_PAGE_NUMBER.match(content):
            continue
        m = P.RE_TABLE_TITLE.match(content)
        if m:
            title = m.group(0).strip()
            if not P.RE_CONTINUED.search(title.lower()):
                if current_table is not None:
                    if current_row:
                        flush_row(current_table)
                    current_row = []  # NOT cleared when no table yet (ref :56-65)
                current_table = {"title": title, "rows": []}
                tables.append(current_table)
            else:
                if current_table is not None and current_row:
                    flush_row(current_table)
                    current_row = []
        elif current_y is None:
            current_y = tb["y1"]
            current_row.append(tb)
        elif abs(tb["y1"] - current_y) <= y_tolerance:
            current_row.append(tb)
        else:
            if current_table is not None:
                flush_row(current_table)  # may emit an EMPTY row (quirk)
                current_row = [tb]
                current_y = tb["y1"]
            else:
                current_row = [tb]
                current_y = tb["y1"]

    if current_table is not None and current_row:
        flush_row(current_table)

    out = []
    for ti, t in enumerate(tables):
        for ri, cells in enumerate(t["rows"]):
            out.append(dict(table_id=ti, title=t["title"], row_id=ri, cells=cells))
        if not t["rows"]:
            out.append(dict(table_id=ti, title=t["title"], row_id=-1, cells=None))
    return out


def extract_tables_exact(
    spans_geom: DataFrame,
    header_footer_df: DataFrame,
    y_tolerance: float = Y_TOLERANCE,
) -> DataFrame:
    """Parity path: ``fold_tables_page`` per (doc_id, page_id), pages
    in reading order (the W1 window's ``y1 DESC, x1, offset``) and
    batched many per Arrow batch through ``map_groups``."""
    tb = spans_geom.filter(F.col("kind") == "TextBox").select(
        "doc_id", "page_id", "offset", "text", "x0", "y0", "x1", "y1"
    )
    joined = tb.join(header_footer_df, "doc_id", "left").fillna(
        {"header": "", "footer": ""}
    )
    cols = [f.name for f in TABLE_ROWS_SCHEMA.fields]

    def fold_pages(pdf: pd.DataFrame, starts) -> pd.DataFrame:
        doc, page = pdf["doc_id"].tolist(), pdf["page_id"].tolist()
        header, footer = pdf["header"].tolist(), pdf["footer"].tolist()
        boxes = pdf[["text", "x0", "y0", "x1", "y1"]].to_dict("records")
        out = []
        for lo, hi in zip(starts[:-1], starts[1:]):
            rows = fold_tables_page(boxes[lo:hi], header[lo] or "",
                                    footer[lo] or "", y_tolerance)
            out.extend((doc[lo], page[lo], r["table_id"], r["title"],
                        r["row_id"], r["cells"]) for r in rows)
        return pd.DataFrame(out, columns=cols)

    return map_groups(
        joined, ["doc_id", "page_id"],
        [F.desc("y1"), F.asc("x1"), F.asc("offset")],
        fold_pages, TABLE_ROWS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# relational fast path (intended semantics)
# ---------------------------------------------------------------------------

def extract_tables_sql(
    spans_geom: DataFrame,
    header_footer_df: DataFrame,
    y_tolerance: float = Y_TOLERANCE,
    scope: str = "page",
) -> DataFrame:
    """Pure-DataFrame table reconstruction.

    Intended semantics: a 'Table N' title opens a table; subsequent
    non-title boxes cluster into rows via lag-based y1 islands (W4
    running flag + A4 gaps-and-islands + A3 assembly); boxes before the
    first title are discarded; header/footer/page-number boilerplate is
    stripped everywhere.

    scope="page": each page processed independently (reference main
    path, ref src/pdf_extractor.py:392-414 loops pages); continued
    titles open their own page-local table, to be merged later by
    merge_continued_tables (the guarded J3).
    scope="doc": the whole doc is one reading-order stream; continued
    titles do NOT open a table, their rows continue the current one
    (textboxes_to_tabular_json fed multi-page input).
    """
    per_doc = scope == "doc"
    tb = with_reading_order(spans_geom)
    df = tb.join(header_footer_df, "doc_id", "left").fillna(
        {"header": "", "footer": ""}
    )
    clean = F.trim(F.regexp_replace("text", "\n", ""))
    df = df.withColumn("clean", clean).filter(
        (~F.col("header").contains(F.col("clean")))
        & (~F.col("footer").contains(F.col("clean")))
        & (~F.col("clean").rlike(P.JAVA_PAGE_NUMBER_MATCH))
    )
    is_title = F.col("clean").rlike(P.JAVA_TABLE_TITLE)
    opens = (
        (is_title & ~F.col("clean").rlike(P.JAVA_CONTINUED_SEARCH))
        if per_doc
        else is_title
    )
    df = df.withColumn("is_title", is_title).withColumn("opens", opens)

    part = ["doc_id"] if per_doc else ["doc_id", "page_id"]
    order = ["page_id", "rord"] if per_doc else ["rord"]
    w_run = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # title carry-forward: table_id is the running sum of `opens`, so
    # every row's table title is the last opening title at-or-before it
    # in the SAME window partition — a last(ignorenulls) over w_run
    # instead of a separate titles frame joined back on (part,
    # table_id). That join was a diamond (the whole upstream — reading
    # order window, header/footer join, boilerplate filters — executed
    # twice) plus a full shuffle join; the carry-forward costs one more
    # expression in an already-required window pass.
    df = (
        df.withColumn("table_id", F.sum(F.col("opens").cast("int")).over(w_run))
        .withColumn("grp", F.sum(F.col("is_title").cast("int")).over(w_run))
        .withColumn(
            "title",
            F.last(
                F.when(
                    F.col("opens"),
                    F.trim(F.regexp_extract("clean", P.JAVA_TABLE_TITLE, 1)),
                ),
                ignorenulls=True,
            ).over(w_run),
        )
        .filter(F.col("table_id") >= 1)
    )

    data = df.filter(~F.col("is_title"))
    # island detection partitioned by the SAME key as w_run (grp
    # boundaries detected via lag(grp) instead of partitioning by grp):
    # consecutive windows share one hashpartitioning -> one less
    # full-data exchange, which is the dominant shuffle at scale.
    w_grp = Window.partitionBy(*part).orderBy(*order)
    prev_y1 = F.lag("y1").over(w_grp)
    prev_grp = F.lag("grp").over(w_grp)
    new_row = (
        prev_grp.isNull()
        | (prev_grp != F.col("grp"))
        | (F.abs(F.col("y1") - prev_y1) > F.lit(y_tolerance))
    )
    if per_doc:
        new_row = new_row | (F.lag("page_id").over(w_grp) != F.col("page_id"))
    data = data.withColumn(
        "row_id",
        F.sum(new_row.cast("int")).over(
            w_grp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # grouping keys are a superset of the window partition keys, so the
    # existing hashpartitioning satisfies the aggregate's distribution —
    # map-side partials, no new exchange. `title` is functionally
    # dependent on (part, table_id); carrying it as a grouping key is
    # free and avoids any join.
    rows = data.groupBy(*part, "table_id", "title", "grp", "row_id").agg(
        F.min("page_id").alias("row_page_id") if per_doc
        else F.first("page_id").alias("row_page_id"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("x0", "rord", "text"))),
            lambda s: s["text"],
        ).alias("cells"),
    )
    # within a table, rows from a later (continued-title) group follow
    # earlier groups; renumber by (grp, row_id).
    w_tbl = Window.partitionBy(*part, "table_id").orderBy("grp", "row_id")
    out = rows.withColumn("row_id", F.row_number().over(w_tbl))
    if per_doc:
        out = out.withColumn("page_id", F.col("row_page_id"))
    return out.select("doc_id", "page_id", "table_id", "title", "row_id", "cells")




def _merge_doc(page: list, tid: list, title: list, rid: list, cells: list,
               lo: int, hi: int, drop_mismatched: bool):
    """The reference's sequential merge over ONE document's rows
    ``lo:hi`` (sorted by page_id, table_id, row_id). Yields
    (row index, merged table id, merged title, row id)."""
    groups: list[tuple] = []  # (title, row indices) per output table
    anchor = None  # (title, group index) of the last non-continued table
    anchor_cols = None
    bad = False  # a title mismatch was seen since the anchor
    a = lo
    while a < hi:
        b = a + 1
        while b < hi and page[b] == page[a] and tid[b] == tid[a]:
            b += 1
        rows = range(a, b)
        t = title[a]
        head = next((i for i in rows if rid[i] is not None and rid[i] >= 0),
                    None)
        n_cols = (None if head is None or cells[head] is None
                  else len(cells[head]))
        a = b
        # literal 'continued' ON PURPOSE, not the X7 (continued|cont\.)
        # pattern: the reference's merge stage tests
        # `'continued' in title.lower()` (parse_util.py:329) while only
        # the fold stage uses the X7 regex (table_extractor.py:52) — a
        # 'cont.' fragment genuinely does not merge in the reference
        is_cont = t is not None and "continued" in t.lower()
        if t is not None and not is_cont:
            anchor, bad = (t, len(groups)), False
            if n_cols is not None:
                anchor_cols = n_cols
        elif is_cont:
            base = t.split("(")[0].strip(" ")
            bad = bad or anchor is None or anchor[0].lower() != base.lower()
            if not bad:
                if n_cols == anchor_cols:
                    groups[anchor[1]][1].extend(rows)
                    continue
                if drop_mismatched:
                    continue
        groups.append((t, list(rows)))

    for gid, (g_title, g_rows) in enumerate(groups, start=1):
        real = [i for i in g_rows if rid[i] is not None and rid[i] >= 0]
        if real:
            for n, i in enumerate(real, start=1):
                yield i, gid, g_title, n
        else:
            i = g_rows[0]
            yield i, gid, g_title, 1 if rid[i] is None else -1


def merge_continued_tables(tables: DataFrame,
                           drop_mismatched: bool = False) -> DataFrame:
    """J3 — merge '(continued)' tables into their BASE table
    (ref src/utilities/parse_util.py:327-345: base =
    title.split('(')[0].strip(); current_table's title must equal
    base, case-insensitive; column arity must match).

    Shape: one shuffle on doc_id, rows sorted by (page_id, table_id,
    row_id) inside the partition, then one sequential pass per
    document in Python (``map_groups``, many documents per Arrow
    batch) — the reference's own loop over a document's tables.

    The reference keeps ``current_table`` pointing at the BASE after a
    merge, so a table continued across 3+ pages merges fully: the
    anchor of a fragment is the last NON-continued table before it. A
    fragment whose base differs from the anchor's title becomes
    standalone (reference: appended + becomes current_table), and
    because its raw title contains '(' no later base can ever match
    it, every following fragment up to the next anchor is standalone
    too. The anchor's arity is the header arity of the last
    non-continued table that has one (an empty anchor keeps the
    previous anchor's arity); two empty sides match.

    ``drop_mismatched``: the reference silently DISCARDS a title-
    matching fragment whose arity differs (parse_util.py:336-337 logs
    and drops the rows). Default False keeps such fragments as
    standalone tables — a deliberate, documented deviation (don't
    silently lose rows); True reproduces the reference exactly.

    Input/out: TABLE_ROWS_SCHEMA-shaped flat rows, one title per
    (doc_id, page_id, table_id). Output table ids are 1-based in
    document order; page_id is preserved and row_id renumbered 1.. per
    merged table. Accepts both the SQL path's 1-based row_id and the
    exact path's 0-based (header arity is read from the lowest
    non-negative row_id). row_id=-1 empty-table markers are ignored
    for arity and vanish when their merged table has real rows; a
    merged table of markers only keeps exactly one. A table with a
    NULL title is standalone and never an anchor.
    """
    schema = T.StructType([
        tables.schema["doc_id"], tables.schema["page_id"],
        T.StructField("table_id", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("row_id", T.IntegerType()),
        tables.schema["cells"],
    ])

    def merge_docs(pdf: pd.DataFrame, starts) -> pd.DataFrame:
        lists = [pdf[c].tolist()
                 for c in ("page_id", "table_id", "title", "row_id", "cells")]
        out = [r for lo, hi in zip(starts[:-1], starts[1:])
               for r in _merge_doc(*lists, lo, hi, drop_mismatched)]
        # never empty: a document's first table always starts a group
        take, tids, titles, rids = zip(*out)
        take = list(take)
        return pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy()[take],
            "page_id": pdf["page_id"].to_numpy()[take],
            "table_id": tids, "title": titles, "row_id": rids,
            "cells": pdf["cells"].to_numpy()[take],
        })

    cols = [f.name for f in TABLE_ROWS_SCHEMA.fields]
    return map_groups(tables.select(*cols), ["doc_id"],
                      ["page_id", "table_id", "row_id"], merge_docs, schema)
