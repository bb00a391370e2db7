"""Ruled ("lattice") table reconstruction from vector ruling lines.

Re-expresses the deterministic decoder family of the reference:
  * table region discovery from ruling segments — semantics of
    LineCellPdf (``table_cell_extract_from_pdf.py:41-484``) / lattice
    contour+joint detection (``table_extractor_lattice.py:186-231``)
  * axis inference via merge_close_lines —
    ``table_extractor_lattice.py:233-258``
  * grid edge marking / border / span flags — ``table_core.py:544-718``
    (set_edges / set_border / set_span)
  * logical-cell merge sweeps — ``table_extractor_pdf.py:769-905``
  * text→cell placement — ``pdf_utils.py:1041-1139`` (get_table_index)
    + spanning-cell shift ``table_extractor_lattice.py:321-364``

This is a clean-room re-derivation on a different data model (vector
spans, not raster images): no OpenCV, no contours — joints come from
exact segment intersections.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import geometry as G
from .export_render import grid_matrix
from .quality import (compute_accuracy, compute_whitespace,
                      placement_error)

MIN_JOINTS = 4  # a table needs at least a 2x2 joint grid (contour gate F8)


@dataclass
class LogicalCell:
    row: int
    col: int
    row_span: int
    col_span: int
    x0: float
    y0: float
    x1: float
    y1: float
    texts: list = field(default_factory=list)

    @property
    def text(self) -> str:
        return "\n".join(self.texts)


@dataclass
class RuledTable:
    bbox: tuple  # (x0, y0, x1, y1) PDF coords
    n_rows: int
    n_cols: int
    rows: list  # row y-intervals top-down: [(y_top, y_bottom), ...]
    cols: list  # col x-intervals left-right: [(x_left, x_right), ...]
    cells: list  # list[LogicalCell]
    cell_of: dict  # (base_r, base_c) -> LogicalCell
    accuracy: float = 0.0    # A9: placement score out of 100
    whitespace: float = 0.0  # A9: % empty base cells
    consumed_ids: list = field(default_factory=list)  # text_lines idxs
    released: list = field(default_factory=list)      # F1 outside pieces


def find_table_regions(horizontal, vertical, tol: float = G.JOINT_TOL):
    """Group ruling segments into table regions by joint connectivity.

    Returns list of (bbox, h_segs, v_segs, joints) sorted top-down then
    left-right (reading order, reference O3); regions tied on that key
    keep component order (smallest member segment first). Each region's
    joints are sorted by (x, y) with duplicates on the rounded key
    dropped.

    The H×V joint test is one numpy broadcast (same comparisons as
    ``G.segment_intersection``, extended-by-tol tips), and the joints
    are grouped, sorted and deduplicated per component in numpy: dense
    pages have thousands of joints, and per-joint Python work dominated
    this function.
    """
    import numpy as np

    if not horizontal or not vertical:
        return []
    ha = np.asarray(horizontal, dtype=np.float64)  # (x0, y, x1, y)
    va = np.asarray(vertical, dtype=np.float64)    # (x, y0, x, y1)
    hx0, hy, hx1 = ha[:, 0:1], ha[:, 1:2], ha[:, 2:3]
    vx, vy0, vy1 = va[:, 0], va[:, 1], va[:, 3]
    hit = ((hx0 - tol <= vx) & (vx <= hx1 + tol)
           & (vy0 - tol <= hy) & (hy <= vy1 + tol))
    n_h = len(horizontal)
    hi, vj = np.nonzero(hit)
    if not len(hi):
        return []
    comp = np.asarray(G.connected_components(
        n_h + len(vertical), zip(hi.tolist(), (vj + n_h).tolist())))

    # joints ordered by (component, x, y); a segment touching nothing
    # is a singleton component and never reaches a region
    jc, jx, jy = comp[hi], vx[vj], hy[hi, 0]
    order = np.lexsort((jy, jx, jc))
    jc, jx, jy = jc[order], jx[order], jy[order]
    # dedup joints on rounded key (reference A8 joint normalization),
    # keeping the first in (x, y) order, BEFORE the joint-count gate:
    # double-drawn strokes would otherwise double-count joints and let
    # degenerate 1-row "tables" through, swallowing page prose
    rx, ry = np.rint(jx), np.rint(jy)
    by_key = np.lexsort((ry, rx, jc))  # stable: ties keep (x, y) order
    k = np.stack((jc, rx, ry))[:, by_key]
    keep = np.zeros(len(jc), dtype=bool)
    keep[by_key[np.r_[True, (k[:, 1:] != k[:, :-1]).any(axis=0)]]] = True
    jc, jx, jy = jc[keep], jx[keep], jy[keep]
    starts = np.flatnonzero(np.r_[True, jc[1:] != jc[:-1]])
    ends = np.r_[starts[1:], len(jc)]
    big = ends - starts >= MIN_JOINTS
    if not big.any():
        return []

    members: dict[int, tuple[list, list]] = {
        c: ([], []) for c in jc[starts[big]].tolist()}
    for idx, c in enumerate(comp.tolist()):
        g = members.get(c)
        if g is not None:
            if idx < n_h:
                g[0].append(horizontal[idx])
            else:
                g[1].append(vertical[idx - n_h])
    jx, jy = jx.tolist(), jy.tolist()
    regions = []
    for (h, v), a, b in zip(members.values(), starts[big].tolist(),
                            ends[big].tolist()):
        xs = [s[0] for s in h] + [s[2] for s in h] + [s[0] for s in v]
        ys = [s[1] for s in v] + [s[3] for s in v] + [s[1] for s in h]
        bbox = (min(xs), min(ys), max(xs), max(ys))
        regions.append((bbox, sorted(h), sorted(v),
                        list(zip(jx[a:b], jy[a:b]))))
    # reading order: top of page first (PDF y grows up), then left
    regions.sort(key=lambda r: (-r[0][3], r[0][0]))
    return regions


def merge_stacked_regions(regions, diff: float = 10.0):
    """U4 table-bbox merge (reference ``table_bbox_merge``,
    ``table_extractor_pdf.py:1627-1679``): consecutive regions in
    reading order whose facing borders coincide at both corners
    (current bottom-left ≈ next top-left AND bottom-right ≈ top-right,
    ±diff) are one table split by a detection artifact — stitch them:
    union segments, dedup joints within diff, extend the bbox."""
    if len(regions) < 2:
        return regions
    out = []
    cur = regions[0]
    for nxt in regions[1:]:
        (bb, h, v, j) = cur
        (bb2, h2, v2, j2) = nxt
        if (abs(bb[0] - bb2[0]) <= diff and abs(bb[2] - bb2[2]) <= diff
                and abs(bb[1] - bb2[3]) <= diff):
            nbb = (min(bb[0], bb2[0]), bb2[1],
                   max(bb[2], bb2[2]), bb[3])
            joints = list(j)
            for p in j2:
                if not any(abs(p[0] - q[0]) <= diff
                           and abs(p[1] - q[1]) <= diff for q in joints):
                    joints.append(p)
            cur = (nbb, sorted(h + h2), sorted(v + v2), joints)
        else:
            out.append(cur)
            cur = nxt
    out.append(cur)
    return out


LAST_MERGE_THRESHOLD = 10.0  # A1 thin edge-axis drop (LineCell parity)


def build_grid(bbox, joints, line_tol: float = G.LINE_TOL):
    """Infer row/col axes from joint coordinates.

    cols ascending, rows *descending* (top-down), each collapsed with
    merge_close_lines, then paired into consecutive intervals —
    semantics of ``_generate_columns_and_rows`` with the LineCell
    decoders' thin first/last axis drop (A1 ``last_merge_threold``,
    threshold 10, ``table_cell_extract_algo.py:402-403``): a hairline
    edge column/row (< 10pt and < 20% of the average gap) is noise from
    double-drawn borders and is removed from the axis.
    """
    cols_pts = sorted([x for x, _ in joints] + [bbox[0], bbox[2]])
    rows_pts = sorted([y for _, y in joints] + [bbox[1], bbox[3]], reverse=True)
    cols_m = G.merge_close_lines(cols_pts, line_tol,
                                 last_merge_threshold=LAST_MERGE_THRESHOLD)
    rows_m = G.merge_close_lines(rows_pts, line_tol,
                                 last_merge_threshold=LAST_MERGE_THRESHOLD)
    cols = [(cols_m[i], cols_m[i + 1]) for i in range(len(cols_m) - 1)]
    rows = [(rows_m[i], rows_m[i + 1]) for i in range(len(rows_m) - 1)]
    return cols, rows


def mark_edges(cols, rows, v_segs, h_segs, joint_tol: float = G.JOINT_TOL):
    """Edge booleans per base cell: (left, right, top, bottom) arrays.

    Same decision procedure as Table.set_edges + set_border
    (``table_core.py:544-680``): a vertical segment at column boundary
    ``i`` marks left edges of column i (and right edges of column i-1)
    for the rows its y-extent covers; symmetric for horizontal.
    """
    nr, nc = len(rows), len(cols)
    left = [[False] * nc for _ in range(nr)]
    right = [[False] * nc for _ in range(nr)]
    top = [[False] * nc for _ in range(nr)]
    bottom = [[False] * nc for _ in range(nr)]

    # plain python sweeps on purpose: axes have <= ~25 entries, where a
    # listcomp beats a numpy round trip per segment (measured)
    tol = joint_tol

    def first_close(pairs, val):
        for idx, c in pairs:
            if abs(val - c) <= tol:
                return idx
        return None

    col_pairs = [(i, c[0]) for i, c in enumerate(cols)]
    row_pairs = [(r, rv[0]) for r, rv in enumerate(rows)]

    for x, y0, _, y1 in v_segs:
        ci = first_close(col_pairs, x)
        at_right_border = G.isclose(x, cols[-1][1], joint_tol)
        # rows covered: row r has y-interval (top=rows[r][0], bottom=rows[r][1])
        J = first_close(row_pairs, y1)
        if J is None:
            continue
        k = first_close(row_pairs, y0)
        K = k if k is not None else nr
        while J < K:
            if ci is not None:
                left[J][ci] = True
                if ci > 0:
                    right[J][ci - 1] = True
            elif at_right_border:
                right[J][nc - 1] = True
            J += 1

    for x0, y, x1, _ in h_segs:
        ri = first_close(row_pairs, y)
        at_bottom_border = G.isclose(y, rows[-1][1], joint_tol)
        J = first_close(col_pairs, x0)
        if J is None:
            continue
        k = first_close(col_pairs, x1)
        K = k if k is not None else nc
        while J < K:
            if ri is not None:
                top[ri][J] = True
                if ri > 0:
                    bottom[ri - 1][J] = True
            elif at_bottom_border:
                bottom[nr - 1][J] = True
            J += 1

    # set_border
    for r in range(nr):
        left[r][0] = True
        right[r][nc - 1] = True
    for c in range(nc):
        top[0][c] = True
        bottom[nr - 1][c] = True
    return left, right, top, bottom


def merge_logical_cells(cols, rows, left, right, top, bottom):
    """Region-grow base cells into logical cells across missing rulings.

    Equivalent outcome to the reference's horizontal + vertical merge
    sweeps (merge_column_cell / merge_row_cell,
    ``table_extractor_pdf.py:769-905``) followed by row/col-span
    assignment (modify_cell_info ``:708-743``): a logical cell is the
    maximal rectangle of base cells with no interior ruling.
    Deterministic scan order: top-down, left-right.
    """
    nr, nc = len(rows), len(cols)
    taken = [[False] * nc for _ in range(nr)]
    cells: list[LogicalCell] = []
    cell_of: dict[tuple, LogicalCell] = {}
    for r in range(nr):
        for c in range(nc):
            if taken[r][c]:
                continue
            # grow right while no ruling between column c2 and c2+1
            c2 = c
            while c2 + 1 < nc and not right[r][c2] and not left[r][c2 + 1] \
                    and not taken[r][c2 + 1]:
                c2 += 1
            # grow down while every column in [c, c2] lacks a bottom
            # ruling AND the absorbed row has no interior vertical
            # ruling inside [c, c2] (otherwise a visible vertical line
            # would end up inside the merged cell)
            r2 = r
            while r2 + 1 < nr and all(
                    not bottom[r2][cc] and not top[r2 + 1][cc]
                    and not taken[r2 + 1][cc]
                    for cc in range(c, c2 + 1)) and all(
                    not right[r2 + 1][cc] and not left[r2 + 1][cc + 1]
                    for cc in range(c, c2)):
                r2 += 1
            cell = LogicalCell(
                row=r, col=c, row_span=r2 - r + 1, col_span=c2 - c + 1,
                x0=cols[c][0], y0=rows[r2][1], x1=cols[c2][1], y1=rows[r][0])
            cells.append(cell)
            for rr in range(r, r2 + 1):
                for cc in range(c, c2 + 1):
                    taken[rr][cc] = True
                    cell_of[(rr, cc)] = cell
    return cells, cell_of


def split_line_at_x(t, x_lo, x_hi):
    """F1 boundary split (reference ``text_in_bbox``'s straddling-box
    branch, ``pdf_utils.py:757-783``): chars whose extent lies within
    [x_lo, x_hi] form the inside piece, the rest the outside piece.
    Char geometry is the uniform-width derivation shared with
    ``split_text_at_cuts``. Returns (inside, outside); either may be
    None when empty."""
    text = t["text"]
    if not text:
        return None, t
    w = (t["x1"] - t["x0"]) / len(text)
    ins, outs = [], []
    for i, ch in enumerate(text):
        cx0 = t["x0"] + i * w
        if x_lo <= cx0 and cx0 + w <= x_hi:
            ins.append((i, ch))
        else:
            outs.append((i, ch))

    def piece(idx_chars):
        if not idx_chars:
            return None
        i0 = idx_chars[0][0]
        i1 = idx_chars[-1][0]
        return {**t, "x0": t["x0"] + i0 * w,
                "x1": t["x0"] + (i1 + 1) * w,
                "text": "".join(ch for _, ch in idx_chars)}

    return piece(ins), piece(outs)


def split_text_at_cuts(t, cuts):
    """X4 char-level re-bucketing (reference ``split_textline``,
    ``pdf_utils.py:923-1038``): split a text line at column-cut
    x-coordinates. Char geometry is derived deterministically from the
    line extent (uniform width = (x1-x0)/len); each char goes to the
    segment containing its center. Returns piece dicts with clipped
    x-extents; empty pieces are dropped."""
    text = t["text"]
    if not text or not cuts:
        return [t]
    w = (t["x1"] - t["x0"]) / len(text)
    bounds = [t["x0"]] + sorted(cuts) + [t["x1"]]
    pieces = []
    for b0, b1 in zip(bounds, bounds[1:]):
        chars = "".join(
            ch for i, ch in enumerate(text)
            if b0 <= t["x0"] + (i + 0.5) * w < b1)
        if chars.strip():
            pieces.append({**t, "x0": b0, "x1": b1, "text": chars})
    return pieces or [t]


def place_text(table: RuledTable, text_lines,
               cut_tol: float = G.LINE_TOL):
    """Assign text lines to logical cells — get_table_index semantics:
    row by y-center containment, column by max x-overlap ratio; the
    spanning-cell mapping collapses the base index to its logical cell.

    A line whose x-extent crosses a *logical* cell boundary (a column
    cut where the two neighboring base cells belong to different
    logical cells — never inside a merged cell) is first char-split at
    those cuts (X4). Reading order inside a cell: sort by (-y0, x0),
    join with newline.

    Returns the list of per-piece placement errors (A9 input; the
    reference's get_table_index error, computed against the assigned
    LOGICAL cell's extent so merged cells don't penalize their own
    spanned area).
    """
    pos_errors: list[float] = []
    ordered = sorted(text_lines, key=lambda t: (-t["y0"], t["x0"]))
    for t0 in ordered:
        yc = (t0["y0"] + t0["y1"]) / 2.0
        r_idx = -1
        for r, (ytop, ybot) in enumerate(table.rows):
            if ybot < yc < ytop:
                r_idx = r
                break
        if r_idx == -1:
            # J1 argmin fallback: a line whose center sits exactly on a
            # row boundary (or was shifted off-axis by merge averaging)
            # must land in the NEAREST row — dropping it here would lose
            # the text entirely, since the caller already consumed it
            # out of the page remainder
            best_d, best_r = None, 0
            for r, (ytop, ybot) in enumerate(table.rows):
                d = max(ybot - yc, yc - ytop, 0.0)
                if best_d is None or d < best_d:
                    best_d, best_r = d, r
            r_idx = best_r
        cuts = []
        for c in range(1, len(table.cols)):
            cx = table.cols[c][0]
            if (t0["x0"] + cut_tol < cx < t0["x1"] - cut_tol
                    and table.cell_of[(r_idx, c - 1)]
                    is not table.cell_of[(r_idx, c)]):
                cuts.append(cx)
        for t in split_text_at_cuts(t0, cuts):
            best_c, best_ov = -1, -1.0
            for c, (cx0, cx1) in enumerate(table.cols):
                if cx0 <= t["x1"] and cx1 >= t["x0"]:
                    lo = max(cx0, t["x0"])
                    hi = min(cx1, t["x1"])
                    ov = abs(hi - lo) / abs(cx1 - cx0)
                else:
                    ov = -1.0
                if ov > best_ov:
                    best_ov, best_c = ov, c
            if best_c == -1:
                continue
            cell = table.cell_of[(r_idx, best_c)]
            pos_errors.append(placement_error(
                t, (cell.y1, cell.y0), (cell.x0, cell.x1)))
            txt = t["text"].strip("\n").strip()
            if txt:
                cell.texts.append(txt)
    return pos_errors


def extract_ruled_tables(rects, text_lines, line_tol: float = G.LINE_TOL,
                         joint_tol: float = G.JOINT_TOL):
    """Full ruled pipeline for one page: rects → segments → regions →
    grid → logical cells → text placement. Returns (tables,
    consumed_text_ids) where consumed ids index into ``text_lines``.
    """
    horizontal, vertical = G.rects_to_segments(rects)
    regions = merge_stacked_regions(
        find_table_regions(horizontal, vertical, joint_tol))
    tables: list[RuledTable] = []
    consumed: set[int] = set()
    for bbox, h_segs, v_segs, joints in regions:
        cols, rows = build_grid(bbox, joints, line_tol)
        if len(cols) < 1 or len(rows) < 1 or (len(cols) == 1 and len(rows) == 1):
            continue  # single-cell-table filter (F7)
        left, right, top, bottom = mark_edges(cols, rows, v_segs, h_segs, joint_tol)
        cells, cell_of = merge_logical_cells(cols, rows, left, right, top, bottom)
        table = RuledTable(bbox=bbox, n_rows=len(rows), n_cols=len(cols),
                           rows=rows, cols=cols, cells=cells, cell_of=cell_of)
        # F1 text_in_bbox: y-center in the band, then (a) x-center in →
        # whole line, (b) starts inside but overruns the right border →
        # char-split, inside piece placed, outside piece released back
        # to the page remainder (reference pdf_utils.py:726-801, diff=2)
        diff = 2.0
        in_table = []
        for i, t in enumerate(text_lines):
            if i in consumed:
                continue
            yc = (t["y0"] + t["y1"]) / 2.0
            if not (bbox[1] - diff <= yc <= bbox[3] + diff):
                continue
            xc = (t["x0"] + t["x1"]) / 2.0
            if bbox[0] - diff <= xc <= bbox[2] + diff:
                in_table.append((i, t))
            elif bbox[0] - diff <= t["x0"] <= bbox[2] + diff:
                inside, outside = split_line_at_x(
                    t, bbox[0] - diff, bbox[2] + diff)
                if inside is not None and inside["text"].strip():
                    in_table.append((i, inside))
                    if outside is not None and outside["text"].strip():
                        table.released.append(outside)
        pos_errors = place_text(table, [t for _, t in in_table])
        # A9 quality metrics ride the table (reference attaches them at
        # table_extractor_lattice.py:294-306)
        table.accuracy = compute_accuracy(pos_errors)
        table.whitespace = compute_whitespace(grid_matrix(cells))
        table.consumed_ids = [i for i, _ in in_table]
        consumed.update(table.consumed_ids)
        tables.append(table)
    return tables, consumed
