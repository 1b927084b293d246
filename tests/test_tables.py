"""EP3 table pipeline: exact fold vs relational fast path vs a local
pure-Python run of the same fold (in-process oracle)."""

import os

import pytest
from pyspark.sql import functions as F

from pdfspark.operators.boilerplate import all_doc_headers_footers
from pdfspark.operators.tables import (
    extract_tables_exact,
    extract_tables_sql,
    fold_tables_page,
    merge_continued_tables,
)


@pytest.fixture(scope="module")
def hf(spark, spans_geom):
    return all_doc_headers_footers(spans_geom).cache()


def test_exact_simple_table(spark, spans_geom, hf):
    doc = spans_geom.filter(F.col("doc_id").startswith("simple-table")).limit(0)
    one_id = (
        spans_geom.filter(F.col("doc_id").startswith("simple-table"))
        .select("doc_id").distinct().orderBy("doc_id").first()[0]
    )
    sub = spans_geom.filter(F.col("doc_id") == one_id)
    out = extract_tables_exact(sub, hf).orderBy("page_id", "table_id", "row_id")
    rows = out.collect()
    assert rows, "no table rows extracted"
    titles = {r.title for r in rows}
    assert any(t.startswith("Table 1") for t in titles)
    # reference quirk: the intro paragraph before the title leaks in as
    # the first row of Table 1, then cells cluster into 3-col rows.
    cellsets = [r.cells for r in rows if r.cells]
    assert any(len(c) == 3 and all("c" in x for x in c) for c in cellsets)
    # cells within a row are x-sorted: c1 < c2 < c3
    for c in cellsets:
        if len(c) == 3 and all(x.startswith("a") for x in c):
            assert [x[-2:] for x in c] == ["c1", "c2", "c3"]


def test_exact_matches_local_fold(spark, spans_geom, hf):
    """Distributed applyInPandas == driver-side fold on every fixture
    page (determinism under partitioning)."""
    sub = spans_geom.filter(
        F.col("doc_id").startswith("simple-table")
        | F.col("doc_id").startswith("continued-table")
        | F.col("doc_id").startswith("hostile-regex")
    )
    dist = {
        (r.doc_id, r.page_id, r.table_id, r.row_id): (r.title, tuple(r.cells or []))
        for r in extract_tables_exact(sub, hf).collect()
    }
    hfm = {r.doc_id: (r.header, r.footer) for r in hf.collect()}
    local = {}
    tb = (
        sub.filter(F.col("kind") == "TextBox")
        .select("doc_id", "page_id", "text", "x0", "y0", "x1", "y1")
        .collect()
    )
    by_page = {}
    for r in tb:
        by_page.setdefault((r.doc_id, r.page_id), []).append(r.asDict())
    for (d, p), boxes in by_page.items():
        boxes.sort(key=lambda b: (-b["y1"], b["x1"]))
        h, f = hfm.get(d, ("", ""))
        for row in fold_tables_page(boxes, h, f):
            local[(d, p, row["table_id"], row["row_id"])] = (
                row["title"],
                tuple(row["cells"] or []),
            )
    assert dist == local


def test_sql_fast_path_agrees_on_clean_tables(spark, spans_geom, hf):
    """On well-formed table fixtures the intended-semantics SQL path
    produces the same cell grid as the exact fold (minus the leak/empty
    row quirks, which we filter out of the exact output)."""
    sub = spans_geom.filter(F.col("doc_id").startswith("continued-table"))
    sql_rows = extract_tables_sql(sub, hf).collect()
    assert sql_rows
    by_tbl = {}
    for r in sql_rows:
        by_tbl.setdefault((r.doc_id, r.page_id, r.title), []).append(
            (r.row_id, tuple(r.cells))
        )
    # every continued-table page yields a 'Table N...' title with rows of
    # consistent arity
    for (d, p, title), rows in by_tbl.items():
        assert title.startswith("Table")
        arities = {len(c) for _, c in rows}
        assert len(arities) == 1, (d, p, title, rows)


def test_merge_continued(spark, spans_geom, hf):
    sub = spans_geom.filter(F.col("doc_id").startswith("continued-table"))
    merged = merge_continued_tables(extract_tables_sql(sub, hf))
    out = merged.collect()
    by_doc_title = {}
    for r in out:
        by_doc_title.setdefault((r.doc_id, r.title), set()).add(r.table_id)
    for (d, title), ids in by_doc_title.items():
        assert len(ids) == 1  # one table id per (doc, surviving title)
    # Table 2 (equal columns) merged: its continued rows absorbed -> no
    # '(continued)' title survives for Table 2; Table 4 (unequal) keeps it.
    titles = {r.title for r in out}
    assert not any("Throughput (continued)" in t for t in titles)
    assert any("Mixed (continued)" in t for t in titles)


def _tables_frame(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, page_id int, table_id long, title string, "
              "row_id long, cells array<string>")


def test_merge_chain_three_pages(spark):
    """Reference parity (parse_util.py:327-345): current_table stays
    the BASE after a merge, so a table continued across 3+ pages
    merges fully — the old lag(title) form broke the chain at the
    third fragment."""
    from pdfspark.operators.tables import merge_continued_tables

    rows = []
    for p, title in enumerate(["Table 2: X", "Table 2: X (continued)",
                               "Table 2: X (continued)"], start=1):
        for r in (1, 2):
            rows.append(("d1", p, 1, title, r, [f"a{p}{r}", f"b{p}{r}"]))
    out = merge_continued_tables(_tables_frame(spark, rows)).collect()
    assert {r.table_id for r in out} == {1}
    assert {r.title for r in out} == {"Table 2: X"}
    assert sorted(r.row_id for r in out) == [1, 2, 3, 4, 5, 6]
    assert {r.page_id for r in out} == {1, 2, 3}  # page_id preserved


def test_merge_state_machine_after_title_mismatch(spark):
    """A continued fragment whose base does not match the anchor
    becomes standalone AND becomes the reference's current_table —
    so a later fragment whose base DOES match the original anchor
    still cannot merge (its comparison target now holds a
    '(continued)' title)."""
    from pdfspark.operators.tables import merge_continued_tables

    rows = [
        ("d2", 1, 1, "Table 1: Y", 1, ["a", "b"]),
        ("d2", 2, 1, "Table 9: Z (continued)", 1, ["c", "d"]),
        ("d2", 3, 1, "Table 1: Y (continued)", 1, ["e", "f"]),
    ]
    out = merge_continued_tables(_tables_frame(spark, rows)).collect()
    assert len({r.table_id for r in out}) == 3  # nothing merged


def test_merge_arity_mismatch_keep_vs_drop(spark):
    """Default: an arity-mismatched continuation is kept standalone
    (documented deviation — don't silently lose rows);
    drop_mismatched=True reproduces the reference's silent discard."""
    from pdfspark.operators.tables import merge_continued_tables

    rows = [
        ("d3", 1, 1, "Table 4: Mixed", 1, ["a", "b"]),
        ("d3", 2, 1, "Table 4: Mixed (continued)", 1, ["c", "d", "e"]),
    ]
    keep = merge_continued_tables(_tables_frame(spark, rows)).collect()
    assert len({r.table_id for r in keep}) == 2
    assert any("(continued)" in r.title for r in keep)
    drop = merge_continued_tables(_tables_frame(spark, rows),
                                  drop_mismatched=True).collect()
    assert len(drop) == 1 and drop[0].title == "Table 4: Mixed"


def test_merge_zero_based_row_ids(spark):
    """Header arity must come from the lowest non-negative row_id, not
    a hardcoded row 1: the exact path emits 0-based rows (and -1
    empty-table markers, which must not define arity)."""
    from pdfspark.operators.tables import merge_continued_tables

    rows = [
        ("d4", 1, 1, "Table 7: Z", 0, ["a", "b"]),
        ("d4", 1, 1, "Table 7: Z", 1, ["c", "d"]),
        ("d4", 2, 1, "Table 7: Z (continued)", 0, ["e", "f"]),
    ]
    out = merge_continued_tables(_tables_frame(spark, rows)).collect()
    assert {r.table_id for r in out} == {1}
    assert {r.title for r in out} == {"Table 7: Z"}
    assert len(out) == 3


def test_merge_preserves_empty_table_markers(spark):
    """row_id=-1 empty-table markers (exact-path shape) must survive
    the merge AS markers: kept (one per group) when the merged table
    has no real rows, dropped when continuation rows arrive, and never
    renumbered into a phantom row with NULL cells."""
    from pdfspark.operators.tables import merge_continued_tables

    rows = [
        # empty anchor + real-rowed continuation: NULL arity != 2 is an
        # arity MISMATCH (reference compares column lists; an empty
        # table has none), so the fragment stays standalone and the
        # anchor keeps its marker
        ("d5", 1, 1, "Table 1: A", -1, None),
        ("d5", 2, 1, "Table 1: A (continued)", 1, ["x", "y"]),
        # standalone empty table -> exactly one -1 marker survives
        ("d5", 3, 1, "Table 2: B", -1, None),
        # empty anchor + empty continuation (NULL arity both sides,
        # eqNullSafe merges) -> ONE marker, not two
        ("d5", 4, 1, "Table 3: C", -1, None),
        ("d5", 5, 1, "Table 3: C (continued)", -1, None),
    ]
    out = merge_continued_tables(_tables_frame(spark, rows)).collect()
    by_title = {}
    for r in out:
        by_title.setdefault(r.title, []).append(r)
    # Table 1 anchor keeps its marker; the fragment is standalone
    t1 = by_title["Table 1: A"]
    assert [(r.row_id, r.cells) for r in t1] == [(-1, None)]
    frag = by_title["Table 1: A (continued)"]
    assert [(r.row_id, r.cells) for r in frag] == [(1, ["x", "y"])]
    # Table 2 standalone empty: one marker, still row_id=-1, NULL cells
    t2 = by_title["Table 2: B"]
    assert [(r.row_id, r.cells) for r in t2] == [(-1, None)]
    # Table 3 merged-empty: one marker total
    t3 = by_title["Table 3: C"]
    assert [(r.row_id, r.cells) for r in t3] == [(-1, None)]
    # no phantom rows anywhere: every non-marker row has cells
    assert all(r.cells is not None for r in out if r.row_id >= 0)


def _random_tables(rnd, n_docs):
    """Random TABLE_ROWS_SCHEMA rows without row_id=-1 markers or NULL
    cells: chains of '(continued)' fragments with matching, mismatched
    and case-shifted bases, '(cont.)' fragments, several tables per
    page, 0- and 1-based row ids, and header arities that may differ."""
    bases = ["Table 1: A", "Table 2: B", "TABLE 2: b", "Table 3: C"]
    rows = []
    for d in range(n_docs):
        page, tid = 1, 0
        for _ in range(rnd.randint(1, 7)):
            if rnd.random() < 0.6:
                page, tid = page + 1, 0
            tid += 1
            base = rnd.choice(bases)
            title = rnd.choice([base, base, f"{base} (continued)",
                                f"{base} (Continued)", f"{base} (cont.)"])
            width = rnd.randint(1, 3)
            first = rnd.randint(0, 1)
            for r in range(first, first + rnd.randint(1, 3)):
                n = width if rnd.random() < 0.8 else rnd.randint(1, 3)
                rows.append((f"d{d}", page, tid, title, r,
                             [f"{d}.{page}.{tid}.{r}.{c}" for c in range(n)]))
    return rows


def test_merge_matches_duckdb_twin_on_random_tables(spark):
    """The sequential per-document merge equals the relational DuckDB
    twin (oracle_pipeline.merge_tables_sql) row for row. The twin does
    not model -1 markers; test_merge_preserves_empty_table_markers
    covers those."""
    import random

    import duckdb
    import pandas as pd

    from pdfspark.oracle_pipeline import merge_tables_sql

    rows = _random_tables(random.Random(20261017), 300)
    got = sorted(
        (r.doc_id, r.page_id, r.table_id, r.title, r.row_id, tuple(r.cells))
        for r in merge_continued_tables(_tables_frame(spark, rows)).collect()
    )
    con = duckdb.connect()
    con.register("src", pd.DataFrame(rows, columns=[
        "doc_id", "page_id", "table_id", "title", "row_id", "cells"]))
    want = sorted(
        (d, p, t, ti, r, tuple(c)) for d, p, t, ti, r, c in con.sql(
            f"WITH {merge_tables_sql('src')} SELECT * FROM merged"
        ).fetchall()
    )
    assert got == want
    assert len({(r[0], r[2]) for r in got}) < len(
        {(r[0], r[1], r[2]) for r in rows}), "nothing merged"


def test_fold_tables_page_null_text_box():
    """A NULL-text TextBox must not crash the exact fold (nullable
    spans_geom column); it behaves exactly like an empty-text box,
    which both stages drop."""
    from pdfspark.operators.tables import fold_tables_page

    base = [
        dict(text="Table 1: T", x0=0, y0=90, x1=20, y1=100),
        dict(text="a", x0=0, y0=80, x1=5, y1=90),
        dict(text="b", x0=10, y0=80, x1=15, y1=90),
    ]
    withnull = base[:1] + [dict(text=None, x0=0, y0=85, x1=2, y1=95)] + base[1:]
    withempty = base[:1] + [dict(text="", x0=0, y0=85, x1=2, y1=95)] + base[1:]
    got_null = fold_tables_page(withnull, "HDR", "FTR")
    got_empty = fold_tables_page(withempty, "HDR", "FTR")
    got_base = fold_tables_page(base, "HDR", "FTR")
    assert got_null == got_empty == got_base
    assert got_base == [dict(table_id=0, title="Table 1: T", row_id=0,
                             cells=["a", "b"])]
