"""Spark-free expected outputs for the benchmark's correctness checks.

Nothing here imports pyspark. The checks use computations independent
of the engine's fold, table and curation code paths:

* ``oracle.oracle_extract`` — the reference-mirroring extraction
  transliteration — over the generator's spans, or over Spark-free
  ``decode_tiny_pdf`` decodes of the same payload bytes;
* the per-page exact table fold ``fold_tables_page`` run locally, the
  sidecar pattern ``synth.write_oracle_outputs`` uses;
* the DuckDB ``oracle_pipeline.curation_sql`` twin of
  ``curate_documents``.
"""

from __future__ import annotations

from collections import Counter

from pdfspark import synth
from pdfspark.config import ExtractConfig
from pdfspark.operators.tables import fold_tables_page
from pdfspark.oracle import oracle_extract

CFG = ExtractConfig()


def section_text(sections) -> str:
    """Headings and paragraphs of every section, newline-joined — the
    Python twin of the benchmark's Spark section-text projection."""
    parts = []
    for sec in sections:
        parts.extend(x for x in [sec["heading"], *sec["paragraphs"]]
                     if x is not None)
    return "\n".join(parts)


def narrow(spans):
    return [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                 offset=s["offset"]) for s in spans]


def corpus_expected(docs, root: str) -> dict:
    """Expected outputs of one spans_to_corpus wave.

    ``table_cells``: doc_id -> multiset of 'c1|c2|...' table rows (the
    continued-table merge relabels tables but keeps every row);
    ``corpus``: {doc_id: (pred_lang, quality_score, n_words, n_chars)}
    from the DuckDB twin."""
    import duckdb
    import pyarrow as pa

    texts, cells = {}, {}
    for d in docs:
        h, f = synth._hf_local(d)
        res = oracle_extract(narrow(d.spans), h, f, CFG)
        if res["status"] == "ok":
            t = section_text(res["sections"])
            if t:
                texts[d.doc_id] = t
        pages: dict[int, list] = {}
        for s in d.spans:
            if s["kind"] == "TextBox":
                pages.setdefault(s["page_id"], []).append(s)
        for pid in sorted(pages):
            boxes = sorted(pages[pid],
                           key=lambda s: (-s["y1"], s["x1"], s["offset"]))
            rows = fold_tables_page(
                [dict(text=b["text"], x0=b["x0"], y0=b["y0"], x1=b["x1"],
                      y1=b["y1"]) for b in boxes], h, f)
            cells.setdefault(d.doc_id, Counter()).update(
                "|".join(r["cells"]) for r in rows if r["cells"] is not None)

    from pdfspark.oracle_pipeline import curation_sql

    con = duckdb.connect()
    try:
        con.register("documents_src", pa.table(
            {"doc_id": list(texts), "text": list(texts.values())}))
        con.execute("CREATE TABLE documents AS SELECT * FROM documents_src")
        rows = con.execute(curation_sql(root)).fetchall()
    finally:
        con.close()
    corpus = {r[0]: (r[1], round(float(r[2]), 4), int(r[3]), int(r[4]))
              for r in rows}
    return dict(table_cells=cells, corpus=corpus)


def stream_expected(files: dict[str, bytes]) -> dict[str, list]:
    """doc_id -> expected output spans as (kind, text, media_ref,
    offset) tuples, for every payload that decodes: Spark-free decode,
    then the oracle fold with no header/footer (the stream path has no
    geometry side input)."""
    from pdfspark.sources.pdf_mini import decode_tiny_pdf

    out = {}
    for name, body in files.items():
        dec = decode_tiny_pdf(body)
        res = oracle_extract(narrow(dec["spans"]), "", "", CFG)
        out[dec["doc_id"]] = [(s["kind"], s["text"], s["media_ref"],
                               s["offset"]) for s in res["out_spans"]]
    return out
