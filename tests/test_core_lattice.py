"""Lattice decoder unit tests: grid reconstruction, edge marking,
spanning-cell merges, text placement, HTML serialization (SURVEY §2
M11/M12, W3-W5, J1-like placement, X9)."""

import json

from pdf_table_spark.core import html as H
from pdf_table_spark.core import lattice as L
from pdf_table_spark.core.page import extract_pdf_page


def grid_rects(xs, ys, drop=()):
    """Per-edge thin rects for a full grid minus dropped edges.
    drop entries: ('h', r, c) or ('v', r, c) — same convention as the
    fixture generator."""
    rects = []
    n_rows, n_cols = len(ys) - 1, len(xs) - 1
    for r in range(n_rows + 1):
        for c in range(n_cols):
            if ("h", r, c) not in drop:
                rects.append({"x0": xs[c], "y0": ys[r] - 0.5,
                              "x1": xs[c + 1], "y1": ys[r] + 0.5})
    for r in range(n_rows):
        for c in range(n_cols + 1):
            if ("v", r, c) not in drop:
                rects.append({"x0": xs[c] - 0.5, "y0": ys[r + 1],
                              "x1": xs[c] + 0.5, "y1": ys[r]})
    return rects


XS = [100.0, 200.0, 300.0]
YS = [700.0, 650.0, 600.0]  # top-down


def text_at(x, y, s):
    return {"x0": x, "y0": y, "x1": x + 6.0 * len(s), "y1": y + 10.0,
            "text": s, "dir": "h"}


def test_full_grid_2x2():
    tables, consumed = L.extract_ruled_tables(
        grid_rects(XS, YS),
        [text_at(110, 670, "a"), text_at(210, 670, "b"),
         text_at(110, 620, "c"), text_at(210, 620, "d")])
    assert len(tables) == 1
    t = tables[0]
    assert t.n_rows == 2 and t.n_cols == 2
    assert len(t.cells) == 4
    assert consumed == {0, 1, 2, 3}
    grid = {(c.row, c.col): c.text for c in t.cells}
    assert grid == {(0, 0): "a", (0, 1): "b", (1, 0): "c", (1, 1): "d"}


def test_colspan_merge():
    # drop the vertical edge between (row 0, col 0) and (row 0, col 1)
    tables, _ = L.extract_ruled_tables(
        grid_rects(XS, YS, drop={("v", 0, 1)}),
        [text_at(110, 670, "wide")])
    t = tables[0]
    spans = {(c.row, c.col): (c.row_span, c.col_span) for c in t.cells}
    assert spans[(0, 0)] == (1, 2)
    assert (0, 1) not in spans          # absorbed into the wide cell
    assert spans[(1, 0)] == (1, 1)
    html = H.cells_to_html(t.cells)
    assert '<td colspan="2">wide</td>' in html


def test_rowspan_merge():
    tables, _ = L.extract_ruled_tables(
        grid_rects(XS, YS, drop={("h", 1, 0)}),
        [text_at(110, 670, "tall")])
    t = tables[0]
    spans = {(c.row, c.col): (c.row_span, c.col_span) for c in t.cells}
    assert spans[(0, 0)] == (2, 1)
    assert (1, 0) not in spans
    assert 'rowspan="2"' in H.cells_to_html(t.cells)


def test_text_multiline_cell_reading_order():
    tables, _ = L.extract_ruled_tables(
        grid_rects(XS, YS),
        [text_at(110, 660, "lower"), text_at(110, 680, "upper")])
    t = tables[0]
    cell = t.cell_of[(0, 0)]
    assert cell.text == "upper\nlower"
    assert "<td" in H.cells_to_html(t.cells)
    assert "upper<br/>lower" in H.cells_to_html(t.cells)


def test_single_cell_table_filtered():
    xs, ys = [100.0, 200.0], [700.0, 650.0]
    tables, consumed = L.extract_ruled_tables(
        grid_rects(xs, ys), [text_at(110, 670, "x")])
    assert tables == [] and consumed == set()


def test_two_tables_reading_order():
    rects = grid_rects(XS, YS) + grid_rects(
        [100.0, 200.0, 300.0], [400.0, 350.0, 300.0])
    tables, _ = L.extract_ruled_tables(rects, [])
    assert len(tables) == 2
    assert tables[0].bbox[3] > tables[1].bbox[3]  # top table first


def test_false_table_suppression_via_page():
    rects = grid_rects(XS, YS)
    bbox = (XS[0], YS[-1], XS[-1], YS[0])
    page = {"width": 612, "height": 792,
            "text_lines": [text_at(110, 670, "cap")],
            "rects": rects,
            "images": [{"x0": bbox[0], "y0": bbox[1], "x1": bbox[2],
                        "y1": bbox[3], "name": "img://1"}]}
    frags = extract_pdf_page(json.dumps(page), "page://d/0")
    kinds = [f[0] for f in frags]
    assert "table_html" not in kinds        # suppressed (F6)
    assert "image" in kinds                  # passthrough survives
    assert any(f[0] == "paragraph" and "cap" in f[1] for f in frags)


def test_split_text_at_cuts_char_buckets():
    """X4: chars bucket by uniform-width centers; pieces clip to cuts."""
    from pdf_table_spark.core.lattice import split_text_at_cuts
    # 10 chars over x in [0, 100] → char width 10, centers 5,15,...,95
    t = {"x0": 0.0, "y0": 0.0, "x1": 100.0, "y1": 10.0,
         "text": "abcde fghi", "dir": "h"}
    pieces = split_text_at_cuts(t, [55.0])
    assert [p["text"] for p in pieces] == ["abcde", " fghi"]
    assert pieces[0]["x0"] == 0.0 and pieces[0]["x1"] == 55.0
    assert pieces[1]["x0"] == 55.0 and pieces[1]["x1"] == 100.0
    # no cuts → passthrough
    assert split_text_at_cuts(t, []) == [t]
    # two cuts → three pieces
    p3 = split_text_at_cuts(t, [35.0, 75.0])
    assert [p["text"] for p in p3] == ["abc", "de f", "ghi"]


def test_straddling_line_splits_only_at_logical_boundaries():
    """A line over two columns splits (full rulings) but must NOT split
    inside a merged cell (the boundary is not logical there)."""
    from pdf_table_spark.core.lattice import extract_ruled_tables

    def grid_rects(xs, ys, drop=()):
        rects = []
        for r in range(len(ys) - 1):
            for c in range(len(xs) - 1):
                if ("h", r, c) not in drop:
                    rects.append({"x0": xs[c], "y0": ys[r] - 0.5,
                                  "x1": xs[c + 1], "y1": ys[r] + 0.5})
        for r in range(len(ys) - 1, len(ys)):
            for c in range(len(xs) - 1):
                rects.append({"x0": xs[c], "y0": ys[-1] - 0.5,
                              "x1": xs[c + 1], "y1": ys[-1] + 0.5})
        for c in range(len(xs)):
            for r in range(len(ys) - 1):
                if ("v", r, c) not in drop:
                    rects.append({"x0": xs[c] - 0.5, "y0": ys[r + 1],
                                  "x1": xs[c] + 0.5, "y1": ys[r]})
        return rects

    xs, ys = [0.0, 100.0, 200.0], [300.0, 250.0, 200.0]
    # full 2x2 grid: straddling line splits at x=100
    rects = grid_rects(xs, ys)
    line = {"x0": 10.0, "y0": 270.0, "x1": 190.0, "y1": 280.0,
            "text": "leftpart rightpart", "dir": "h"}
    tables, _ = extract_ruled_tables(rects, [line])
    assert len(tables) == 1
    got = {(c.row, c.col): c.text for c in tables[0].cells if c.text}
    assert got == {(0, 0): "leftpart", (0, 1): "rightpart"}

    # drop the interior vertical ruling in row 0 → merged logical cell
    # spanning both columns → NO split
    rects_m = grid_rects(xs, ys, drop={("v", 0, 1)})
    tables_m, _ = extract_ruled_tables(rects_m, [dict(line)])
    got_m = {(c.row, c.col, c.col_span): c.text
             for c in tables_m[0].cells if c.text}
    assert got_m == {(0, 0, 2): "leftpart rightpart"}


def _full_grid_rects(xs, ys, drop=()):
    rects = []
    for r in range(len(ys)):
        for c in range(len(xs) - 1):
            if ("h", r, c) not in drop:
                rects.append({"x0": xs[c], "y0": ys[r] - 0.5,
                              "x1": xs[c + 1], "y1": ys[r] + 0.5})
    for c in range(len(xs)):
        for r in range(len(ys) - 1):
            if ("v", r, c) not in drop:
                rects.append({"x0": xs[c] - 0.5, "y0": ys[r + 1],
                              "x1": xs[c] + 0.5, "y1": ys[r]})
    return rects


def test_boundary_straddling_text_never_lost():
    """A line whose y-center sits exactly on a row boundary must land
    in the nearest row, not vanish from output entirely."""
    from pdf_table_spark.core.lattice import extract_ruled_tables
    xs, ys = [0.0, 100.0], [300.0, 250.0, 200.0]
    rects = _full_grid_rects(xs, ys)
    # y-center = 250.0 == interior row boundary
    line = {"x0": 10.0, "y0": 245.0, "x1": 60.0, "y1": 255.0,
            "text": "boundary", "dir": "h"}
    tables, consumed = extract_ruled_tables(rects, [line])
    assert consumed == {0}
    all_text = "\n".join(c.text for t in tables for c in t.cells)
    assert "boundary" in all_text


def test_grow_down_respects_interior_vertical_ruling():
    """A merged header must NOT absorb a body row that has a visible
    vertical ruling inside the header's column range."""
    from pdf_table_spark.core.lattice import extract_ruled_tables
    xs, ys = [0.0, 100.0, 200.0, 300.0], [300.0, 250.0, 200.0]
    # drop: header's interior vertical (row 0, boundary 1) and the
    # horizontal between rows under cols 0-1 → header wants to grow
    # down; but row 1 KEEPS its vertical at boundary 1
    rects = _full_grid_rects(
        xs, ys, drop={("v", 0, 1), ("h", 1, 0), ("h", 1, 1)})
    tables, _ = extract_ruled_tables(rects, [])
    assert len(tables) == 1
    cells = {(c.row, c.col): (c.row_span, c.col_span)
             for c in tables[0].cells}
    # header spans cols 0-1 in row 0 ONLY (row 1 has a vertical ruling
    # separating its cols 0 and 1)
    assert cells[(0, 0)] == (1, 2)
    assert (1, 0) in cells and (1, 1) in cells


def test_split_line_at_x_boundary():
    """F1 boundary split: uniform-width chars partitioned at the table
    border; extents follow the char runs."""
    from pdf_table_spark.core.lattice import split_line_at_x
    t = {"x0": 0.0, "y0": 0.0, "x1": 60.0, "y1": 10.0,
         "text": "abcdefghij", "dir": "h"}  # 6pt chars
    inside, outside = split_line_at_x(t, -2.0, 32.0)
    assert inside["text"] == "abcde" and outside["text"] == "fghij"
    assert inside["x1"] == 30.0 and outside["x0"] == 30.0
    # fully inside
    inside2, outside2 = split_line_at_x(t, -2.0, 100.0)
    assert inside2["text"] == "abcdefghij" and outside2 is None
    # empty text passes through
    assert split_line_at_x({**t, "text": ""}, 0, 10) == (None, {**t, "text": ""})


def test_overrun_line_split_between_cell_and_prose():
    """A line starting in the last column whose center lies beyond the
    table border: inside chars land in the cell, the tail is released
    back to the page as prose."""
    import json

    from pdf_table_spark.core.page import extract_pdf_page
    from pdf_table_spark.fixtures.generator import _page_json, _ruled_table
    import random
    rng = random.Random(0)
    rects, texts, bbox = _ruled_table(rng, 80.0, 700.0, 3, 3,
                                      overrun=True)
    over = texts[-1]
    frags = extract_pdf_page(_page_json(texts, rects), "m")
    table = "".join(f[1] for f in frags if f[0] == "table_html")
    paras = [f[1] for f in frags if f[0] == "paragraph"]
    assert over["text"][:3] in table
    assert paras and paras[0].strip()
    assert paras[0].strip() in over["text"]  # the released tail


def test_stacked_region_stitch_u4():
    """U4 table_bbox_merge: two disconnected stacked halves with
    coinciding borders (±10) stitch into one table with a clean grid
    (facing-boundary joints dedup within the merge tolerance); halves
    with different widths stay separate."""
    import random

    from pdf_table_spark.core import geometry as G
    from pdf_table_spark.core.html import parse_table_html
    from pdf_table_spark.core.lattice import (
        extract_ruled_tables, find_table_regions)
    from pdf_table_spark.fixtures.generator import _ruled_table

    rng = random.Random(3)
    rectsA, tA, _ = _ruled_table(rng, 80.0, 720.0, 2, 3,
                                 col_w=80.0, row_h=24.0)
    y2 = 720.0 - 2 * 24.0 - 5.0
    rectsB, tB, _ = _ruled_table(rng, 80.0, y2, 2, 3,
                                 col_w=80.0, row_h=24.0)
    h, v = G.rects_to_segments(rectsA + rectsB)
    assert len(find_table_regions(h, v)) == 2  # truly disconnected
    tables, consumed = extract_ruled_tables(rectsA + rectsB, tA + tB)
    assert len(tables) == 1
    assert len(tables[0].rows) == 4  # 2+2, no phantom spacer row
    assert len(consumed) == len(tA) + len(tB)

    # width mismatch: right corners differ by >10 → no stitch
    rng = random.Random(3)
    rectsC, tC, _ = _ruled_table(rng, 80.0, 720.0, 2, 2,
                                 col_w=80.0, row_h=24.0)
    rectsD, tD, _ = _ruled_table(rng, 80.0, 720.0 - 48 - 5.0, 2, 4,
                                 col_w=80.0, row_h=24.0)
    tables2, _ = extract_ruled_tables(rectsC + rectsD, tC + tD)
    assert len(tables2) == 2


def _find_table_regions_reference(horizontal, vertical, tol):
    """find_table_regions as a Python loop over every H×V hit (the
    implementation the numpy grouping replaced)."""
    import numpy as np

    from pdf_table_spark.core import geometry as G

    segs = [("h", s) for s in horizontal] + [("v", s) for s in vertical]
    edges, joints_all = [], []
    if horizontal and vertical:
        ha = np.asarray(horizontal, dtype=np.float64)
        va = np.asarray(vertical, dtype=np.float64)
        hx0, hy, hx1 = ha[:, 0:1], ha[:, 1:2], ha[:, 2:3]
        vx, vy0, vy1 = va[:, 0], va[:, 1], va[:, 3]
        hit = ((hx0 - tol <= vx) & (vx <= hx1 + tol)
               & (vy0 - tol <= hy) & (hy <= vy1 + tol))
        n_h = len(horizontal)
        for i, j in np.argwhere(hit):
            edges.append((int(i), n_h + int(j)))
            joints_all.append(
                (int(i), n_h + int(j), (float(vx[j]), float(hy[i, 0]))))
    comp = G.connected_components(len(segs), edges)
    groups = {}
    for idx, (d, s) in enumerate(segs):
        g = groups.setdefault(comp[idx], {"h": [], "v": [], "joints": []})
        g[d].append(s)
    for i, _, pt in joints_all:
        groups[comp[i]]["joints"].append(pt)
    regions = []
    for g in groups.values():
        if not g["h"] or not g["v"]:
            continue
        seen, joints = set(), []
        for x, y in sorted(g["joints"]):
            k = (round(x), round(y))
            if k not in seen:
                seen.add(k)
                joints.append((x, y))
        if len(joints) < L.MIN_JOINTS:
            continue
        xs = ([s[0] for s in g["h"]] + [s[2] for s in g["h"]]
              + [s[0] for s in g["v"]])
        ys = ([s[1] for s in g["v"]] + [s[3] for s in g["v"]]
              + [s[1] for s in g["h"]])
        regions.append(((min(xs), min(ys), max(xs), max(ys)),
                        sorted(g["h"]), sorted(g["v"]), joints))
    regions.sort(key=lambda r: (-r[0][3], r[0][0]))
    return regions


def _random_rulings(rng):
    """Ruled grids at random places (some double-drawn, some jittered
    across a rounding boundary), crosses and T shapes below the joint
    gate, stray strokes, and a pair of disjoint regions tied on (top,
    left) — shuffled so component order varies."""
    h, v = [], []
    for _ in range(rng.randint(0, 4)):
        x0, top = rng.uniform(0, 400), rng.uniform(200, 800)
        xs = sorted(x0 + rng.uniform(10, 60) * k
                    for k in range(rng.randint(1, 5)))
        ys = sorted((top - rng.uniform(8, 30) * k
                     for k in range(rng.randint(1, 5))), reverse=True)
        for y in ys:
            h.append((xs[0], y, xs[-1], y))
            if rng.random() < 0.3:  # double-drawn stroke
                d = rng.choice([0.0, 0.3, rng.uniform(-1, 1)])
                h.append((xs[0], y + d, xs[-1], y + d))
        for x in xs:
            jx = x + rng.choice([0.0, 0.0, 0.5, -0.5, 0.49])
            v.append((jx, ys[-1], jx, ys[0]))
            if rng.random() < 0.3:
                v.append((jx, ys[-1], jx, ys[0]))
    for _ in range(rng.randint(0, 3)):  # crosses / Ts: < MIN_JOINTS
        x, y = rng.uniform(0, 600), rng.uniform(0, 800)
        h.append((x - 20, y, x + rng.choice([0.0, 20.0]), y))
        v.append((x, y - 20, x, y + 20))
    for _ in range(rng.randint(0, 4)):  # strays
        x, y = rng.uniform(0, 600), rng.uniform(0, 800)
        if rng.random() < 0.5:
            h.append((x, y, x + rng.uniform(1, 200), y))
        else:
            v.append((x, y, x, y + rng.uniform(1, 200)))
    if rng.random() < 0.3:
        # A: grid at left=10, top=700; B: disjoint, its left (a long
        # horizontal's x0) and top (a tall vertical's y1) tie with A's
        for y in (700.0, 650.0, 600.0):
            h.append((10.0, y, 100.0, y))
        for x in (10.0, 55.0, 100.0):
            v.append((x, 600.0, x, 700.0))
        for y in (300.0, 250.0):
            h.append((10.0, y, 600.0, y))
        v.append((500.0, 200.0, 500.0, 700.0))
        v.append((550.0, 200.0, 550.0, 300.0))
    rng.shuffle(h)
    rng.shuffle(v)
    return h, v


def test_find_table_regions_matches_per_hit_reference():
    """The numpy joint grouping returns exactly what the per-hit loop
    did: bbox, sorted segments, joint order and region order, including
    double-drawn strokes, disjoint components, groups under MIN_JOINTS
    and regions tied on (top, left)."""
    import random

    from pdf_table_spark.core import geometry as G

    rng = random.Random(11)
    n_regions = n_ties = 0
    for _ in range(400):
        h, v = _random_rulings(rng)
        for tol in (G.JOINT_TOL, 0.0):
            got = L.find_table_regions(h, v, tol)
            want = _find_table_regions_reference(h, v, tol)
            assert got == want
            assert repr(got) == repr(want)  # same value types too
            n_regions += len(got)
            keys = [(-r[0][3], r[0][0]) for r in got]
            n_ties += len(keys) - len(set(keys))
    assert n_regions > 400 and n_ties > 10
