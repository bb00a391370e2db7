"""Property-based tests (hypothesis) over the pure extraction core —
invariants that must hold for ANY input, not just the fixture corpus.
"""

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from pdf_table_spark.core.geometry import merge_close_lines
from pdf_table_spark.core.html import (
    canonicalize_table_html, cells_to_html, parse_table_html)
from pdf_table_spark.core.lattice import LogicalCell
from pdf_table_spark.core.page import extract_document
from pdf_table_spark.fixtures.generator import gen_doc

coords = st.floats(min_value=0.0, max_value=1000.0,
                   allow_nan=False, allow_infinity=False)


@given(st.lists(coords, min_size=1, max_size=60),
       st.floats(min_value=0.5, max_value=10.0))
def test_merge_close_lines_separation_and_bounds(values, tol):
    """Cluster means are strictly ascending with gaps > tol, stay inside
    the input range, and never outnumber the inputs."""
    out = merge_close_lines(sorted(values), tol)
    assert 1 <= len(out) <= len(values)
    assert min(values) <= out[0] and out[-1] <= max(values)
    for a, b in zip(out, out[1:]):
        assert b - a > tol


cell_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"),
                           max_codepoint=0x24F),
    max_size=8)


@st.composite
def grids(draw):
    """A valid logical-cell grid: random merges over an n x m lattice,
    greedy row-major — same construction invariant as
    merge_logical_cells output."""
    nr = draw(st.integers(1, 5))
    nc = draw(st.integers(1, 5))
    taken = [[False] * nc for _ in range(nr)]
    cells = []
    for r in range(nr):
        for c in range(nc):
            if taken[r][c]:
                continue
            max_cs = 1
            while c + max_cs < nc and not taken[r][c + max_cs]:
                max_cs += 1
            cs = draw(st.integers(1, max_cs))
            max_rs = 1
            while r + max_rs < nr and all(
                    not taken[r + max_rs][cc] for cc in range(c, c + cs)):
                max_rs += 1
            rs = draw(st.integers(1, max_rs))
            for rr in range(r, r + rs):
                for cc in range(c, c + cs):
                    taken[rr][cc] = True
            cells.append(LogicalCell(
                row=r, col=c, row_span=rs, col_span=cs,
                x0=0, y0=0, x1=0, y1=0,
                texts=[draw(cell_text)]))
    return cells


@given(grids())
@settings(max_examples=60)
def test_html_canonicalization_idempotent(cells):
    """canonicalize ∘ canonicalize == canonicalize for any grid."""
    html = cells_to_html(cells, table_width=None)
    once = canonicalize_table_html(html)
    assert canonicalize_table_html(once) == once


@given(grids())
@settings(max_examples=60)
def test_html_parse_preserves_grid_occupancy(cells):
    """Parsing serialized HTML recovers a grid covering the identical
    (row, col) slots with the identical texts — except grids hit by the
    documented all-rowspan-equal rewrite (the reference drops rowspans
    when every cell of a row shares one, deliberately lossy), which we
    exclude here."""
    rows = {}
    for c in cells:
        rows.setdefault(c.row, []).append(c.row_span)
    assume(not any(
        spans and all(s == spans[0] and s > 1 for s in spans)
        for spans in rows.values()))
    parsed = parse_table_html(cells_to_html(cells, table_width=None))

    def occupancy(cs):
        occ = {}
        for c in cs:
            for rr in range(c.row, c.row + c.row_span):
                for cc in range(c.col, c.col + c.col_span):
                    occ[(rr, cc)] = c.text
        return occ

    assert occupancy(parsed) == occupancy(cells)


def _parse_table_html_reference(html):
    """parse_table_html before its plain-text fast path: every
    substitution runs through an uncompiled re.sub on every cell."""
    import re

    from pdf_table_spark.core.html import _ATTR_RE, _TD_RE, _TR_RE
    html = re.sub(r"<eb\d*>\s*</eb\d*>", "<td></td>", html)
    occupied = set()
    cells = []
    for r, tr in enumerate(_TR_RE.findall(html)):
        c = 0
        for attrs, body in _TD_RE.findall(tr):
            while (r, c) in occupied:
                c += 1
            colspan = rowspan = 1
            for name, val in _ATTR_RE.findall(attrs):
                if name.lower() == "colspan":
                    colspan = int(val)
                else:
                    rowspan = int(val)
            text = re.sub(r"<br\s*/?>", "\n", body)
            text = re.sub(r"<[^>]+>", "", text)
            text = (text.replace("&lt;", "<").replace("&gt;", ">")
                    .replace("&amp;", "&"))
            cells.append(LogicalCell(
                row=r, col=c, row_span=rowspan, col_span=colspan,
                x0=0, y0=0, x1=0, y1=0,
                texts=[t for t in [text] if t != ""]))
            for rr in range(r, r + rowspan):
                for cc in range(c, c + colspan):
                    occupied.add((rr, cc))
            c += colspan
    return cells


body_chunk = st.one_of(
    cell_text,
    st.sampled_from(["<br>", "<br/>", "<br />", "<b>", "</b>", "<i>",
                     "</i>", "&amp;", "&lt;", "&gt;", "&", "&amp;lt;",
                     "<", ">", " ", "\n"]),
    cell_text.map(lambda t: f"<b>{t}</b>"))
td_attrs = st.lists(st.sampled_from(
    [' colspan="2"', " colspan=3", ' rowspan="2"', " ROWSPAN='2'",
     ' width="10%"', ""]), max_size=2).map("".join)
table_cell = st.one_of(
    st.tuples(td_attrs, st.lists(body_chunk, max_size=6).map("".join))
    .map(lambda ab: f"<td{ab[0]}>{ab[1]}</td>"),
    st.sampled_from(["<eb></eb>", "<eb1></eb1>", "<eb2> </eb2>",
                     "<td></td>"]))


@given(st.lists(st.lists(table_cell, max_size=5), max_size=5))
@settings(max_examples=200, deadline=None)
def test_parse_table_html_fast_path_matches_reference(rows):
    """The precompiled, plain-text-skipping parser returns the same
    cells as the all-regex reference for bodies with line breaks,
    inline tags, entities, empty-cell tokens and span attributes."""
    html = ('<table border="1"><tbody>'
            + "".join("<tr>" + "".join(r) + "</tr>" for r in rows)
            + "</tbody></table>")
    assert parse_table_html(html) == _parse_table_html_reference(html)


def test_render_table_html_parses_each_table_once(monkeypatch):
    """One parse per exported table: the grid formats and html_db come
    from the same cells, and html_db is still the canonical form."""
    from pdf_table_spark.core import html as H
    from pdf_table_spark.core.export_render import render_table_html

    calls = []

    def counting(html):
        calls.append(html)
        return parse_table_html(html)

    tables = [
        '<table border="1"><tbody><tr><td colspan="2">a<br/>b</td>'
        '</tr><tr><td>&amp;</td><td><b>x</b></td></tr></tbody></table>',
        "<table><tr><eb></eb><td rowspan=2>q</td></tr><tr><td>r</td>"
        "</tr></table>",
        "",
    ]
    canonical = [canonicalize_table_html(t) for t in tables]
    monkeypatch.setattr(H, "parse_table_html", counting)
    for i, (t, want) in enumerate(zip(tables, canonical), 1):
        out = render_table_html(t)
        assert len(calls) == i
        assert out[-1] == want


@given(st.integers(min_value=0, max_value=5000))
@settings(max_examples=30, deadline=None)
def test_extraction_deterministic_any_doc(doc_idx):
    """Extraction is a pure function of the document for any generator
    draw (families, rotations, straddles, skew docs included)."""
    _, spans, _ = gen_doc(doc_idx)
    a = extract_document(spans)
    b = extract_document(list(reversed(spans)))  # input order immaterial
    assert a == b
    offs = [o["offset"] for o in a]
    assert offs == list(range(len(offs)))        # dense 0-based offsets


@given(st.lists(
    st.tuples(st.floats(0, 500), st.floats(0, 500),
              st.floats(1, 90), st.floats(4, 14)),
    min_size=0, max_size=12))
@settings(deadline=None, max_examples=60)
def test_dedup_overlapping_boxes_idempotent_and_subset(boxes):
    """U3 properties: output ⊆ input, idempotent, order-stable."""
    from pdf_table_spark.core.geometry import dedup_overlapping_boxes
    lines = [{"x0": x, "y0": y, "x1": x + w, "y1": y + h,
              "text": f"t{i}"} for i, (x, y, w, h) in enumerate(boxes)]
    once = dedup_overlapping_boxes(lines)
    ids = [t["text"] for t in once]
    assert ids == [t["text"] for t in lines if t["text"] in set(ids)]
    assert dedup_overlapping_boxes(once) == once


@given(st.lists(st.floats(0, 1000), min_size=0, max_size=30),
       st.floats(0.5, 5.0))
@settings(deadline=None, max_examples=60)
def test_merge_close_lines_output_sorted_and_spaced(vals, tol):
    """A1 properties on sorted input: output sorted; consecutive
    outputs farther apart than tol (no two clusters should have
    merged); every input within tol·n of some output."""
    from pdf_table_spark.core.geometry import merge_close_lines
    vals = sorted(vals)
    out = merge_close_lines(vals, tol)
    assert out == sorted(out)
    for a, b in zip(out, out[1:]):
        assert b - a > tol * 0.999


@given(st.text(max_size=300))
@settings(deadline=None, max_examples=80)
def test_extract_span_never_raises_on_garbage_page(payload):
    """Poison containment is total: ANY pdf_page/ocr_page payload either
    extracts or quarantines — never an exception, always 5-tuples."""
    from pdf_table_spark.core.page import extract_span
    for kind in ("pdf_page", "ocr_page", "html_table"):
        out = extract_span(kind, payload, "m")
        assert isinstance(out, list)
        assert all(len(f) == 5 for f in out)


@given(st.recursive(
    st.none() | st.booleans() | st.floats(allow_nan=False) |
    st.text(max_size=8),
    lambda ch: st.lists(ch, max_size=4) |
    st.dictionaries(st.sampled_from(
        ["width", "height", "text_lines", "rects", "images", "segs",
         "layout", "rotation", "x0", "y0", "x1", "y1", "text", "dir",
         "char_heights", "det_cells", "tables", "tokens",
         "cell_bboxes", "flipped"]), ch, max_size=6),
    max_leaves=20))
@settings(deadline=None, max_examples=60)
def test_extract_span_never_raises_on_structured_garbage(obj):
    import json as _json

    from pdf_table_spark.core.page import extract_span
    payload = _json.dumps(obj)
    for kind in ("pdf_page", "ocr_page"):
        out = extract_span(kind, payload, "m")
        assert isinstance(out, list)
        assert all(len(f) == 5 for f in out)


# ---- corpus filter gates: invariants for ANY text ----

doc_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF,
                           blacklist_characters="\\"),
    max_size=200)


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=25))
def test_corpus_clean_total_provenance(spark, texts):
    """One output row per input doc; kept ⇔ stage=='kept'; clean_fp
    non-null ⇔ kept — for arbitrary text including newlines, quotes,
    regex metacharacters."""
    from pdf_table_spark.ops.textfilters import corpus_clean
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    rows = corpus_clean(docs).collect()
    assert len(rows) == len(texts)
    assert {r.doc_id for r in rows} == {str(i) for i in range(len(texts))}
    for r in rows:
        assert r.kept == (r.stage == "kept")
        assert (r.clean_fp is not None) == r.kept
        assert r.stage in ("dup", "gopher", "c4", "kept")


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=25))
def test_repetition_fraction_bounds(spark, texts):
    """Line fractions ∈ [0,1]; gram fractions ≥ 0 (dup-5-gram may
    exceed 1 by construction, top-2-gram may not exceed ~1)."""
    from pdf_table_spark.ops.textfilters import repetition_signals
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    for r in repetition_signals(docs).collect():
        assert 0.0 <= r.dup_line_frac <= 1.0
        assert 0.0 <= r.dup_line_char_frac <= 1.0
        assert r.top_2gram_char_frac >= 0.0
        assert r.dup_5gram_char_frac >= 0.0


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=25))
def test_pii_redaction_leaves_no_matches(spark, texts):
    """After redaction no PII pattern matches remain, and redacting a
    redacted text is a no-op (the scrub is idempotent)."""
    import re as _re
    from pdf_table_spark.ops.textfilters import PII_PATTERNS, pii_redact
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    out = {r.doc_id: r.redacted for r in pii_redact(docs).collect()}
    twice = {r.doc_id: r.redacted for r in pii_redact(
        spark.createDataFrame(sorted(out.items()),
                              "doc_id string, text string")).collect()}
    for d, red in out.items():
        assert not _re.search(PII_PATTERNS["email"], red)
        assert not _re.search(PII_PATTERNS["ip"], red)
        assert twice[d] == red


html_chunk = st.one_of(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=40),
    st.sampled_from([
        "<p>", "</p>", "<nav>", "</nav>", "<table>", "</table>",
        "<tr><td>", "</td></tr>", "<a href='/x'>", "</a>", "<img src='y'>",
        "<script>", "</script>", "<div", ">", "<!--", "-->", "&amp;",
        "&#x27;", "<table><tr>", "<td colspan='2'>", "</tbody>",
    ]))


@settings(max_examples=50, deadline=None)
@given(st.lists(html_chunk, max_size=30).map("".join))
def test_html_page_extraction_never_raises(page):
    """Arbitrary (broken) markup: the main-content extractor must
    return well-formed fragments, never raise — at 10^12 docs every
    malformed page exists."""
    from pdf_table_spark.core.htmlpage import extract_html_page
    for kind, text, ref, acc, ws in extract_html_page(page):
        assert kind in ("paragraph", "table_html", "image", "error")
        assert isinstance(text, str) and isinstance(ref, str)
        if kind == "table_html":
            assert text.startswith('<table border="1">')


# ---- ExactSubstr dedup: brute-force parity on adversarial corpora ----

_es_token = st.sampled_from(["a", "b", "c"])
_es_doc = st.lists(_es_token, max_size=12)


@settings(max_examples=5, deadline=None)
@given(docs=st.lists(_es_doc, min_size=1, max_size=10))
def test_exact_substring_dedup_matches_brute_force(spark, docs):
    """Lee et al. ExactSubstr vs a driver-side brute-force oracle on
    tiny-vocab corpora (3 tokens, n=3) chosen to maximize duplicated
    windows — intra-doc repeats, cross-doc chains, overlapping cut
    regions, sub-window docs. Pins: the canonical occurrence is the
    min (doc_id, start) over EACH duplicated window independently,
    overlapping cuts merge via the index-set distinct, and token
    accounting is conserved (n_tokens - n_removed == kept tokens)."""
    from pdf_table_spark.ops.dedup import exact_substring_dedup

    n = 3
    ids = [f"d{i:02d}" for i in range(len(docs))]
    rows = [(d, " ".join(toks)) for d, toks in zip(ids, docs)]

    # brute-force oracle: window key = the joined token string
    occ = {}
    for d, toks in zip(ids, docs):
        for s in range(len(toks) - n + 1):
            occ.setdefault(tuple(toks[s:s + n]), []).append((d, s))
    cut = {d: set() for d in ids}
    for places in occ.values():
        if len(places) > 1:
            canon = min(places)
            for d, s in places:
                if (d, s) != canon:
                    cut[d].update(range(s, s + n))
    want = {}
    for d, toks in zip(ids, docs):
        kept = [t for i, t in enumerate(toks) if i not in cut[d]]
        want[d] = (len(toks), len(cut[d]), " ".join(kept))

    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in exact_substring_dedup(
               spark.createDataFrame(rows, "doc_id string, text string"),
               n=n).collect()}
    assert got == want
    for n_tok, n_rm, clean in got.values():
        assert n_tok - n_rm == (len(clean.split()) if clean else 0)
