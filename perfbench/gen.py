"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed, wave)``: the same
arguments write byte-identical files. Generation never runs inside a
timed region; the caller times only what happens after the files exist.

Documents come from the ``pdfspark.synth`` layout families. For
``stream_append`` they are rendered into real ``%PDF`` bytes with the
``pdf_mini`` builders, plus a fixed share of payloads that quarantine by
design (a truncated file or a password-locked one). For
``spans_to_corpus`` they are written as pre-decoded parquet in the
``documents_in`` / ``spans_geom`` shape, with a few documents above the
skew threshold and planted exact and near duplicates.

Each generator returns the documents it wrote (for the Spark-free
oracles) and the input properties the workload depends on.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdfspark import synth

# spans_to_corpus: table-heavy, multi-page mix (families repeat by weight).
# Every wave holds the same number of documents of each family, so the
# seed changes content but not the mix.
CORPUS_FAMILIES = (
    ["simple-table"] * 3 + ["continued-table"] * 3 + ["multi-column"] * 2
    + ["header-footer"] * 2 + ["plain-sections"] * 2
    + ["named-sections", "appendices", "figures-media", "page-numbers",
       "hostile-regex"]
)
CORPUS_DOCS = 60           # documents per wave, before planted duplicates
CORPUS_SKEW_DOCS = 1       # documents above the skew threshold per wave
CORPUS_SKEW_SPANS = 1800   # spans in each skewed document
SKEW_THRESHOLD = 1500      # extract_documents_split skew_threshold
SPANS_PER_CHUNK = 512
CORPUS_EXACT_DUPS = 3      # verbatim copies under a new doc_id
CORPUS_NEAR_DUPS = 3       # copies with one word changed

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "for"]

# stream_append: files per wave and the quarantine-by-design mix
WAVE_FILES = 16
LAYOUT_FAMILIES = ["simple-table", "continued-table", "multi-column",
                   "header-footer", "plain-sections", "named-sections",
                   "appendices", "page-numbers"]


def _build_doc(doc_id: str, fam: str, rng: random.Random):
    b = synth.DocBuilder(doc_id)
    synth.GENERATORS[fam](b, rng)
    return b.finish(rng if "table" in fam else None)


def _with_stopwords(doc, rng: random.Random) -> None:
    """Put English function words into the body lines of long text
    boxes (not the first line, which carries headings) so a realistic
    share of documents clears curation's stopword-weighted quality and
    language filters; the synth vocabulary alone has none."""
    for s in doc.spans:
        if s["kind"] == "TextBox" and len(s["text"]) > 40:
            head, *body = s["text"].split("\n")
            s["text"] = "\n".join([head] + [
                " ".join(w + (" " + rng.choice(STOPWORDS)
                              if rng.random() < 0.6 else "")
                         for w in line.split(" "))
                for line in body])


def _perturb(text: str, rng: random.Random) -> str:
    """Swap one word of a multi-word text for another vocabulary word."""
    words = text.split(" ")
    if len(words) < 4:
        return text
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in synth.WORDS if w != words[i]])
    return " ".join(words)


def corpus_wave(root: str, seed: int, wave: int) -> dict:
    """Write one spans_to_corpus wave under ``root``; return its docs
    (DocBuilder objects) and properties."""
    rng = random.Random(f"perfbench|corpus|{seed}|{wave}")
    prefix = f"c{seed}-w{wave:03d}"
    docs = []
    for i in range(CORPUS_DOCS):
        fam = CORPUS_FAMILIES[i % len(CORPUS_FAMILIES)]
        doc = _build_doc(f"{prefix}-{fam}-{i:04d}", fam,
                         random.Random(rng.random()))
        _with_stopwords(doc, rng)
        docs.append(doc)
    for i in range(CORPUS_SKEW_DOCS):
        b = synth.DocBuilder(f"{prefix}-skew-{i:02d}")
        synth.gen_skew(b, random.Random(rng.random()), CORPUS_SKEW_SPANS)
        docs.append(b.finish())
    sources = [d for d in docs[:CORPUS_DOCS]
               if any(s["kind"] == "TextBox" and len(s["text"]) > 40
                      for s in d.spans)]
    for i in range(CORPUS_EXACT_DUPS):
        src = rng.choice(sources)
        b = synth.DocBuilder(f"{prefix}-dup-{i:03d}")
        b.spans = [dict(s) for s in src.spans]
        docs.append(b)
    for i in range(CORPUS_NEAR_DUPS):
        src = rng.choice(sources)
        b = synth.DocBuilder(f"{prefix}-near-{i:03d}")
        b.spans = [dict(s) for s in src.spans]
        long_boxes = [s for s in b.spans
                      if s["kind"] == "TextBox" and len(s["text"]) > 40]
        s = rng.choice(long_boxes)
        s["text"] = _perturb(s["text"], rng)
        docs.append(b)
    rng.shuffle(docs)

    os.makedirs(root, exist_ok=True)
    _write_corpus_parquet(docs, root)
    # empty augmentation table: the DuckDB curation twin unions it in
    pq.write_table(pa.table({"doc_id": pa.array([], pa.string()),
                             "text": pa.array([], pa.string())}),
                   os.path.join(root, "documents_aug.parquet"))
    n_spans = [len(d.spans) for d in docs]
    groups = {(d.doc_id, s["page_id"]) for d in docs for s in d.spans
              if s["kind"] == "TextBox"}
    return dict(
        docs=docs,
        props=dict(
            docs=len(docs),
            spans=sum(n_spans),
            spans_per_doc=sum(n_spans) / len(docs),
            pages=sum(d.page_id for d in docs),
            table_page_groups=len(groups),
            skew_docs=sum(1 for n in n_spans if n > SKEW_THRESHOLD),
            skew_share=sum(1 for n in n_spans if n > SKEW_THRESHOLD)
            / len(docs),
            exact_dup_share=CORPUS_EXACT_DUPS / len(docs),
            near_dup_share=CORPUS_NEAR_DUPS / len(docs),
            bytes=sum(os.path.getsize(os.path.join(root, f))
                      for f in ("documents_in.parquet",
                                "spans_geom.parquet")),
        ),
    )


def _write_corpus_parquet(docs, root: str) -> None:
    cols = ("doc_id", "page_id", "page_number", "kind", "text",
            "media_ref", "x0", "y0", "x1", "y1", "offset")
    g = {k: [] for k in cols}
    for d in docs:
        for s in d.spans:
            g["doc_id"].append(d.doc_id)
            g["page_number"].append(max(0, s["page_id"] - 1))
            for k in cols:
                if k not in ("doc_id", "page_number"):
                    g[k].append(s[k])
    span_arrays = [[dict(kind=s["kind"], text=s["text"],
                         media_ref=s["media_ref"], offset=s["offset"])
                    for s in d.spans] for d in docs]
    pq.write_table(
        pa.table({"doc_id": pa.array([d.doc_id for d in docs], pa.string()),
                  "spans": pa.array(span_arrays,
                                    pa.list_(synth.SPAN_PA))}),
        os.path.join(root, "documents_in.parquet"), row_group_size=64)
    types = dict(doc_id=pa.string(), page_id=pa.int32(),
                 page_number=pa.int32(), kind=pa.string(),
                 text=pa.string(), media_ref=pa.string(),
                 x0=pa.float64(), y0=pa.float64(), x1=pa.float64(),
                 y1=pa.float64(), offset=pa.int32())
    pq.write_table(
        pa.table({k: pa.array(g[k], types[k]) for k in cols}),
        os.path.join(root, "spans_geom.parquet"), row_group_size=8192)


def _layout_pages(doc) -> list[list[tuple[str, float, float]]]:
    """One (text, x, y) show per TextBox, grouped by page."""
    pages: dict[int, list] = {}
    for s in doc.spans:
        if s["kind"] == "TextBox":
            pages.setdefault(s["page_id"], []).append(
                (s["text"].replace("\n", " "), round(s["x0"], 2),
                 round(s["y0"], 2)))
    return [pages[p] for p in sorted(pages)]


def stream_wave(seed: int, wave: int) -> dict:
    """Render one stream_append wave of PDF payloads into memory.

    Returns ``files`` as (name, bytes) pairs in landing order — the
    caller writes them into the inbox — plus the doc_ids that
    quarantine by design.

    Mix per wave, the same in every wave: positioned-text layout PDFs
    from the synth families (flate or plain), tiny PDFs with image XObjects, one RC4-encrypted
    file with an empty user password (decodes), and one payload that
    quarantines by design (alternating a truncated file and a
    password-locked one).
    """
    from pdfspark.sources.pdf_mini import build_layout_pdf, build_tiny_pdf

    rng = random.Random(f"perfbench|stream|{seed}|{wave}")
    prefix = f"s{seed}-w{wave:04d}"
    files, quarantined = [], []
    for i in range(WAVE_FILES):
        doc_id = f"{prefix}-{i:02d}"
        if i == WAVE_FILES - 1:
            if wave % 2:
                body = build_tiny_pdf(doc_id, [["1. Locked", "Secret."]],
                                      encrypt="rc4-128-pw")
            else:
                full = build_tiny_pdf(doc_id, [["1. Cut", "Truncated."]],
                                      compress=True)
                body = full[: len(full) // 2]
            quarantined.append(doc_id)
        elif i == WAVE_FILES - 2:
            body = build_tiny_pdf(
                doc_id, [[f"1. {synth._para(rng, 3)}", synth._para(rng, 8)],
                         [synth._para(rng, 10)]],
                compress=True, encrypt="rc4-128")
        elif i % 5 == 4:
            body = build_tiny_pdf(
                doc_id, [[f"1. {synth._para(rng, 3)}", synth._para(rng, 8),
                          f"Figure 1 {synth._para(rng, 4)}"],
                         [synth._para(rng, 12)]],
                compress=True, images=[1, rng.randint(0, 2)])
        else:
            fam = LAYOUT_FAMILIES[i % len(LAYOUT_FAMILIES)]
            doc = _build_doc(doc_id, fam, random.Random(rng.random()))
            body = build_layout_pdf(doc_id, _layout_pages(doc),
                                    compress=bool(i % 2))
        files.append((f"{doc_id}.pdf", body))
    return dict(
        files=files, quarantined=quarantined,
        props=dict(files=len(files),
                   bytes=sum(len(b) for _, b in files),
                   bytes_per_file=sum(len(b) for _, b in files) / len(files),
                   quarantine_share=len(quarantined) / len(files)),
    )
