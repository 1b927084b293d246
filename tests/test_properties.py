"""Property-based tests (SURVEY §5.2 item 3): determinism of the fold
under input perturbation, and equivalence of the literal fast path in
the heading lookup against the reference's regex semantics."""

import re

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from pdfspark.config import ExtractConfig
from pdfspark.fold import fold_document
from pdfspark.functions.patterns import RE_TRAILING_PUNCT, find_section_by_heading

# --- heading lookup fast path == regex path --------------------------------

_heading_alphabet = st.sampled_from(
    list("abcXYZ019_ ,;:'-") + ["(", ")", "+", ".", "*", "["]
)
_headings = st.lists(
    st.text(alphabet="abcdefgh 123ABC-,_", min_size=0, max_size=16),
    min_size=0, max_size=6,
)


import pytest


# the unescaped-heading path (X9, the reference's own bug) emits
# "possible nested set" FutureWarnings by design — mark them expected
# so real warnings stay visible
@pytest.mark.filterwarnings("ignore:Possible nested set:FutureWarning")
@pytest.mark.filterwarnings("ignore:Possible set:FutureWarning")
@settings(max_examples=500, deadline=None)
@given(st.text(alphabet=_heading_alphabet, min_size=0, max_size=14), _headings)
def test_heading_lookup_matches_reference_regex(heading, section_headings):
    clean = RE_TRAILING_PUNCT.sub("", heading)
    try:
        pat = re.compile(rf"\b{clean}\b", re.IGNORECASE)
        expected = next(
            (i for i, h in enumerate(section_headings) if pat.search(h)), None
        )
    except re.error:
        expected = "raise"
    try:
        got = find_section_by_heading(heading, section_headings)
    except re.error:
        got = "raise"
    assert got == expected


# --- fold determinism ------------------------------------------------------

_span = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(
            ["TextBox", "TextLine", "Line", "Figure", "Image", "TOC",
             "PageStart", "Curve"]
        ),
        "text": st.text(
            alphabet="ab 12.\nAppendix Figure Table page",
            min_size=0, max_size=30,
        ),
        "media_ref": st.none() | st.just("img://x/1"),
    }
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_span, min_size=0, max_size=25), st.randoms())
def test_fold_invariant_under_storage_shuffle(spans, rnd):
    """The fold sorts by offset first, so any storage-order permutation
    of the same (offset-stamped) spans yields identical output."""
    for i, s in enumerate(spans):
        s["offset"] = i
    cfg = ExtractConfig()
    base = fold_document([dict(s) for s in spans], "hdr", "ftr", cfg)
    shuffled = list(spans)
    rnd.shuffle(shuffled)
    again = fold_document([dict(s) for s in shuffled], "hdr", "ftr", cfg)
    assert base["out_spans"] == again["out_spans"]
    assert base["sections"] == again["sections"]
    assert base["status"] == again["status"]


@settings(max_examples=100, deadline=None)
@given(st.lists(_span, min_size=0, max_size=25))
def test_fold_offsets_dense_and_monotone(spans):
    for i, s in enumerate(spans):
        s["offset"] = i
    res = fold_document(spans, "", "", ExtractConfig())
    offs = [s["offset"] for s in res["out_spans"]]
    assert offs == list(range(len(offs)))


# --- mini-codec writer-shape invariance -------------------------------------
# The same logical document serialized under different (real-world)
# writer choices must decode to the SAME span sequence; encryption in
# particular must be a pure representation change. Text stays in the
# latin-1 range (the simple-font identity slice); operator spellings
# that would collide with the object scanner's delimiters are
# assumed away (they quarantine by design — never a wrong parse).

_pdf_line = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255),
    max_size=24,
)
_pdf_pages = st.lists(
    st.lists(_pdf_line, min_size=1, max_size=4), min_size=1, max_size=3
)


def _scanner_safe(pages) -> bool:
    flat = " ".join(ln for pg in pages for ln in pg)
    return not any(t in flat for t in ("obj", "endstream", "trailer"))


@settings(max_examples=120, deadline=None)
@given(
    _pdf_pages,
    st.fixed_dictionaries(
        {
            "compress": st.sampled_from(
                [False, True, "lzw", "a85", "ahx+flate"]),
            "hex_show": st.booleans(),
            "quote_show": st.booleans(),
            "cid": st.booleans(),
            "title_utf16": st.booleans(),
            "encrypt": st.sampled_from([None, "rc4-40", "rc4-128", "aesv2"]),
        }
    ),
)
def test_pdf_codec_spans_invariant_under_writer_options(pages, opts):
    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    assume(_scanner_safe(pages))
    plain = decode_tiny_pdf(build_tiny_pdf("prop-doc", pages))
    out = decode_tiny_pdf(build_tiny_pdf("prop-doc", pages, **opts))
    assert out == plain


@settings(max_examples=60, deadline=None)
@given(
    _pdf_pages,
    st.fixed_dictionaries(
        {
            "compress": st.booleans(),
            "images": st.lists(st.integers(0, 2), min_size=3, max_size=3),
            "form_header": st.none() | st.just("RUN HDR"),
            "cid": st.booleans(),
        }
    ),
    st.sampled_from(["rc4-40", "rc4-128", "aesv2"]),
)
def test_pdf_codec_encryption_is_span_invariant(pages, opts, mode):
    from pdfspark.sources.pdf_mini import build_tiny_pdf, decode_tiny_pdf

    assume(_scanner_safe(pages))
    opts = dict(opts, images=opts["images"][: len(pages)])
    plain = decode_tiny_pdf(build_tiny_pdf("prop-doc", pages, **opts))
    enc = build_tiny_pdf("prop-doc", pages, encrypt=mode, **opts)
    assert decode_tiny_pdf(enc) == plain


# --- round-5 codec kernels: RLE round-trip, PNG predictor inversion --------

@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_rle_round_trip_property(payload):
    """_rle_encode/_rle_decode (§7.4.5) are inverses for arbitrary
    byte strings — runs, literals, empty, and 0x80-heavy inputs."""
    from pdfspark.sources.pdf_mini import _rle_decode, _rle_encode

    assert _rle_decode(_rle_encode(payload)) == payload


@given(
    st.integers(min_value=1, max_value=16),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_png_unpredict_inverts_any_filter_mix(columns, data):
    """_png_unpredict recovers raw rows under ANY per-row mix of the
    five RFC 2083 filters, forward-filtered by an independent in-test
    implementation (bpp=1)."""
    from pdfspark.sources.pdf_mini import _png_unpredict

    n_rows = data.draw(st.integers(min_value=1, max_value=8))
    raw_rows = [
        bytes(data.draw(st.lists(st.integers(0, 255), min_size=columns,
                                 max_size=columns)))
        for _ in range(n_rows)
    ]
    fts = [data.draw(st.integers(0, 4)) for _ in range(n_rows)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    enc = bytearray()
    prev = bytes(columns)
    for ft, row in zip(fts, raw_rows):
        enc.append(ft)
        for i, x in enumerate(row):
            left = row[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            pred = (0, left, up, (left + up) // 2,
                    paeth(left, up, ul))[ft]
            enc.append((x - pred) & 0xFF)
        prev = row
    assert _png_unpredict(bytes(enc), columns) == b"".join(raw_rows)


# --- domseg (HTML main-content) parser invariants -------------------------

_words_st = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6),
    min_size=0, max_size=12,
)
_block_tag = st.sampled_from(["p", "div", "li", "h2", "blockquote", "td"])
_inline_tag = st.sampled_from(["b", "i", "em", "span", "a"])


@st.composite
def _html_doc(draw):
    """Random well-formed-enough HTML: block elements containing plain
    words, inline-wrapped words, and anchor words; plus optional
    script noise. Returns (html, total_words, link_words)."""
    parts, total, linked = [], 0, 0
    for _ in range(draw(st.integers(0, 6))):
        btag = draw(_block_tag)
        seg = []
        for _ in range(draw(st.integers(0, 4))):
            ws = draw(_words_st)
            kind = draw(st.sampled_from(["plain", "inline", "anchor"]))
            if not ws:
                continue
            text = " ".join(ws)
            if kind == "plain":
                seg.append(text)
            elif kind == "inline":
                it = draw(_inline_tag)
                if it == "a":
                    linked += len(ws)
                seg.append(f"<{it}>{text}</{it}>")
            else:
                linked += len(ws)
                seg.append(f'<a href="/x">{text}</a>')
            total += len(ws)
        if draw(st.booleans()):
            parts.append("<script>var x = 1 && 2;</script>")
        parts.append(f"<{btag}>" + " ".join(seg) + f"</{btag}>")
    return "".join(parts), total, linked


@given(_html_doc())
@settings(max_examples=120, deadline=None)
def test_domseg_conserves_words_and_bounds_features(doc):
    from pdfspark.functions.domseg import extract_blocks

    html, total, linked = doc
    blocks = extract_blocks(html)
    assert sum(b.n_words for b in blocks) == total
    assert sum(b.n_link_words for b in blocks) == linked
    for b in blocks:
        assert 1 <= b.n_words  # empty blocks are never emitted
        assert 0 <= b.n_link_words <= b.n_words
        assert 0.0 <= b.link_density <= 1.0
        assert b.text == " ".join(b.text.split())  # normalized
        if b.link_density > 0.333333:
            assert not b.is_content  # the stump's hard veto


@given(_words_st.filter(lambda ws: len(ws) > 0))
@settings(max_examples=60, deadline=None)
def test_domseg_plain_text_single_block(ws):
    """Tagless text is exactly one body block, words preserved in
    order, and never dom_boiler."""
    from pdfspark.functions.domseg import extract_blocks

    blocks = extract_blocks(" ".join(ws))
    assert len(blocks) == 1
    assert blocks[0].text == " ".join(ws)
    assert blocks[0].tag == "body"
    assert not blocks[0].dom_boiler


@given(
    st.integers(min_value=1, max_value=12),   # columns
    st.integers(min_value=1, max_value=4),    # colors
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_tiff_unpredict_inverts_forward_differencing(columns, colors, data):
    """_tiff_unpredict recovers raw rows from independent in-test
    forward horizontal differencing (TIFF 6 /Predictor 2, 8-bit) for
    any (columns, colors, rows) geometry."""
    from pdfspark.sources.pdf_mini import _tiff_unpredict

    n_rows = data.draw(st.integers(min_value=1, max_value=6))
    row_len = columns * colors
    raw = bytes(data.draw(st.lists(st.integers(0, 255),
                                   min_size=n_rows * row_len,
                                   max_size=n_rows * row_len)))
    fwd = bytearray(raw)
    for r in range(0, len(fwd), row_len):
        for i in range(row_len - 1, colors - 1, -1):
            fwd[r + i] = (raw[r + i] - raw[r + i - colors]) & 0xFF
    assert _tiff_unpredict(bytes(fwd), columns, colors) == raw


@given(st.data())
@settings(max_examples=150, deadline=None)
def test_xycut_is_always_a_permutation(data):
    """xy_cut_order must return a PERMUTATION of the input indices for
    any box geometry (degenerate, overlapping, duplicated, negative
    coordinates) — a dropped or doubled box would be silent span loss
    or duplication in the distributed rank join."""
    from pdfspark.operators.reading_order import xy_cut_order

    n = data.draw(st.integers(min_value=0, max_value=24))
    coord = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False,
                      width=32)
    x0, y0, x1, y1 = [], [], [], []
    for _ in range(n):
        a, b = data.draw(coord), data.draw(coord)
        c, d = data.draw(coord), data.draw(coord)
        x0.append(min(a, c)); x1.append(max(a, c))
        y0.append(min(b, d)); y1.append(max(b, d))
    order = xy_cut_order(x0, y0, x1, y1, list(range(n)))
    assert sorted(order) == list(range(n))


@given(st.text(max_size=400))
@settings(max_examples=250, deadline=None)
def test_html_kernels_never_crash_on_arbitrary_text(doc):
    """Poison-input property for BOTH HTML kernels (the same
    executor-side contract the PDF mutation sweep pins): any unicode
    garbage — unclosed tags, stray angle brackets, control chars —
    must come back as a (possibly empty) result, never an exception,
    because html.parser feeds directly from corpus bytes."""
    from pdfspark.functions.domseg import extract_blocks
    from pdfspark.operators.html_tables import parse_html_table

    blocks = extract_blocks(doc)
    assert isinstance(blocks, list)
    rows = parse_html_table(1, doc)
    assert isinstance(rows, list)


@given(st.data())
@settings(max_examples=120, deadline=None)
def test_html_kernels_survive_mutated_markup(data):
    """Structured-then-corrupted variant: take plausible table/page
    markup and mutate it (truncate, delete a chunk, flip chars) —
    kernels must still terminate with list results."""
    from pdfspark.functions.domseg import extract_blocks
    from pdfspark.operators.html_tables import parse_html_table

    base = ("<html><head><title>t</title></head><body><nav>menu</nav>"
            "<div id='main'><p>Some longer paragraph text here with "
            "words.</p><table><tr><th>h1</th><th>h2</th></tr>"
            "<tr><td>a</td><td>b</td></tr></table></div>"
            "<footer>foot</footer></body></html>")
    n = len(base)
    choice = data.draw(st.integers(0, 2))
    if choice == 0:
        doc = base[: data.draw(st.integers(0, n))]
    elif choice == 1:
        i = data.draw(st.integers(0, n - 1))
        j = data.draw(st.integers(i, min(n, i + 40)))
        doc = base[:i] + base[j:]
    else:
        i = data.draw(st.integers(0, n - 1))
        doc = base[:i] + data.draw(st.text(min_size=1, max_size=3)) \
            + base[i + 1:]
    assert isinstance(extract_blocks(doc), list)
    assert isinstance(parse_html_table(7, doc), list)


# --- map_groups: groups are never split or reordered -----------------------

def _map_groups_round_trip(spark, sizes, batch, rnd):
    """Run groups of the given sizes through ``map_groups`` with tiny
    Arrow batches and no partition coalescing (so most partitions of a
    few groups are empty), and check that every kernel call saw whole
    groups in ``order``. Group i has keys (i // 2, 'a'/'b'), group 0
    a NULL second key."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pdfspark.udf import map_groups

    rows, expected = [], {}
    for i, n in enumerate(sizes):
        key = (i // 2, None if i == 0 else "ab"[i % 2])
        vals = list(range(n))
        rnd.shuffle(vals)
        rows += [(*key, v) for v in vals]
        expected[key] = list(range(n - 1, -1, -1))
    df = spark.createDataFrame(rows, "g int, h string, o int")
    schema = T.StructType([
        T.StructField("g", T.IntegerType()),
        T.StructField("h", T.StringType()),
        T.StructField("seq", T.ArrayType(T.IntegerType())),
    ])

    def per_group(pdf, starts):
        assert starts[0] == 0 and starts[-1] == len(pdf)
        out = []
        for lo, hi in zip(starts[:-1], starts[1:]):
            assert hi > lo
            part = pdf.iloc[lo:hi]
            assert part["g"].nunique() == 1
            assert part["h"].nunique(dropna=False) == 1
            out.append((part["g"].iat[0], part["h"].iat[0],
                        part["o"].tolist()))
        return pd.DataFrame(out, columns=["g", "h", "seq"])

    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": str(batch),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = [((r.g, r.h), list(r.seq)) for r in map_groups(
            df, ["g", "h"], [F.desc("o")], per_group, schema).collect()]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(got) == len({k for k, _ in got}), "a group was split"
    assert dict(got) == expected


# Spark's gateway threads move the recursion limit under hypothesis
@pytest.mark.filterwarnings("ignore:The recursion limit will not be reset")
@given(st.lists(st.integers(1, 12), max_size=10), st.sampled_from([2, 3]),
       st.randoms())
@settings(max_examples=12, deadline=None)
def test_map_groups_never_splits_or_reorders(spark, sizes, batch, rnd):
    _map_groups_round_trip(spark, sizes, batch, rnd)


def test_map_groups_group_longer_than_fifty_batches(spark):
    import random

    # group 1 spans 60+ batches of 3 rows; neighbours straddle its ends
    _map_groups_round_trip(spark, [2, 185, 1, 4], 3, random.Random(7))
