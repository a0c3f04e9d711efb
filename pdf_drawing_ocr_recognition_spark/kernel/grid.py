"""Line-grid detection + cell assembly kernel (SURVEY.md M2/M3).

Generalizes the reference's fixed-layout table reading (crop → OCR of grid
drawings, pdor/pdor_unit.py:187-260) into a deterministic raster-grid decoder,
per BASELINE.json:north_star: binarize → row/col projection profiles →
candidate rule lines → merge collinear/nearby segments (Hough-style buckets) →
cell bboxes → interval-sorted y-bands → per-cell bbox sort (row-major) →
tab/newline row assembly.

Payload encoding (shared with fixtures/gen_pages.py, which imports these
constants — the encoder and decoder must agree, and both are ours):

- white (255) background, black (0) rule lines of thickness LINE_PX spanning
  the full image, forming an (R+1) x (C+1) line lattice;
- inside each cell, text is drawn as one bit-glyph COLUMN per character:
  8 vertical bit blocks of BIT_PX x BIT_PX, MSB at top; block black iff bit
  set; chars are ASCII 1..126 so the MSB block is always white;
- a zero byte (all-white column) terminates the cell's text.

Decoded cell texts are assembled row-major, cells joined by TAB and rows by
NEWLINE — this raw string then goes once through the error-prefix filter and
literal parse (kernel/parse.py), as the reference's LLM reply would
(pdor/pdor_unit.py:238-249); being deterministic, it is never retried.
"""

from __future__ import annotations

import numpy as np

LINE_PX = 2          # rule-line thickness
BIT_PX = 3           # bit-block edge length
CHAR_BITS = 8        # bits per character glyph column
CELL_PAD = 2         # white padding inside each cell before glyphs
BIN_THRESHOLD = 128  # binarize: pixel < 128 → ink
LINE_FRACTION = 0.98 # a projection row/col is a rule line iff ≥98% ink
GLYPH_H = CHAR_BITS * BIT_PX


def binarize(gray: np.ndarray) -> np.ndarray:
    """uint8 grayscale → boolean ink mask."""
    return gray < BIN_THRESHOLD


UNION_FRACTION = 0.93  # pair-union threshold for jittered (deskewed) rasters


def detect_rule_lines(
    ink: np.ndarray, axis: int, pair_union: bool = False
) -> list[tuple[int, int]]:
    """Projection-profile rule-line detection along *axis*.

    axis=1 projects across columns → horizontal lines (returns (y_start, y_end)
    half-open spans); axis=0 → vertical lines.  Candidate indices are those
    whose ink fraction ≥ LINE_FRACTION; consecutive/nearby candidates (gap ≤ 1)
    are merged into one segment — the Hough-style bucket merge of the north
    star, reduced to axis-aligned form.

    ``pair_union=True`` (used after deskew, where NN-rotation jitter spreads a
    line across adjacent rows) marks index i a candidate when the UNION of
    rows i and i+1 covers ≥ UNION_FRACTION of the extent: a jittered rule line
    unions to ~full span while glyph rows cannot exceed ~0.93.
    """
    work = ink if axis == 1 else ink.T
    extent = work.shape[1]
    if pair_union:
        union = work[:-1] | work[1:]
        profile = union.sum(axis=1)
        candidates = np.flatnonzero(profile >= UNION_FRACTION * extent)
    else:
        profile = work.sum(axis=1)
        candidates = np.flatnonzero(profile >= LINE_FRACTION * extent)
    segments: list[tuple[int, int]] = []
    for idx in candidates:
        if segments and idx - segments[-1][1] <= 1:
            segments[-1] = (segments[-1][0], idx + 1)
        else:
            segments.append((idx, idx + 1))
    if pair_union:  # candidate i covered rows {i, i+1} — close the span
        n = work.shape[0]
        segments = [(s, min(e + 1, n)) for s, e in segments]
    return segments


def cell_bboxes(
    ink: np.ndarray, pair_union: bool = False
) -> list[tuple[int, int, int, int]]:
    """Detected rule lines → interior cell bounding boxes (y1, y2, x1, x2)."""
    h_lines = detect_rule_lines(ink, axis=1, pair_union=pair_union)
    v_lines = detect_rule_lines(ink, axis=0, pair_union=pair_union)
    boxes = []
    for (ys, ye), (ys2, _ye2) in zip(h_lines, h_lines[1:]):
        for (xs, xe), (xs2, _xe2) in zip(v_lines, v_lines[1:]):
            boxes.append((ye, ys2, xe, xs2))
    return boxes


def assemble_cells(boxes: list[tuple[int, int, int, int]]) -> list[list[tuple[int, int, int, int]]]:
    """Row-major assembly of UNORDERED cell bboxes.

    Interval-sorts boxes into y-bands (a box joins the current band when its
    vertical span overlaps the band's span — the interval-tree grouping of the
    north star), then sorts within each band by x.  This is the kernel twin of
    the relational variant ``Window.orderBy(cell_y, cell_x)`` + ``row_number``.
    """
    if not boxes:
        return []
    by_y = sorted(boxes, key=lambda b: (b[0], b[2]))
    bands: list[list[tuple[int, int, int, int]]] = []
    band_end = -1
    for box in by_y:
        y1, y2 = box[0], box[1]
        if not bands or y1 >= band_end:
            bands.append([box])
            band_end = y2
        else:
            bands[-1].append(box)
            band_end = max(band_end, y2)
    return [sorted(band, key=lambda b: b[2]) for band in bands]


def majority_ink(ink: np.ndarray) -> np.ndarray:
    """3x3-majority-voted ink mask (whole image, one pass).

    Each pixel becomes the majority vote of its 3x3 neighborhood (edge pixels
    vote over their clipped neighborhood against the same ≥5 threshold, like
    the per-cell np.clip sampling this replaces — clipped rows/cols count
    their edge pixel twice).  Computed ONCE per sub-image so the per-cell
    decode is a plain strided lookup; the previous per-cell 9-way ``np.ix_``
    accumulation dominated the deskewed-page profile.
    """
    h, w = ink.shape
    padded = np.empty((h + 2, w + 2), dtype=np.int8)
    padded[1:-1, 1:-1] = ink
    padded[0, 1:-1] = ink[0]
    padded[-1, 1:-1] = ink[-1]
    padded[:, 0] = padded[:, 1]
    padded[:, -1] = padded[:, -2]
    acc = np.zeros((h, w), dtype=np.int8)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            acc += padded[dy : dy + h, dx : dx + w]
    return acc >= 5


def decode_cell_text(
    ink: np.ndarray,
    box: tuple[int, int, int, int],
    majority: bool = False,
    maj: np.ndarray | None = None,
) -> str:
    """Decode one cell's bit-glyph columns back to its ASCII text.

    Vectorized: samples every glyph-block center at once (8 x max_chars
    matrix), packs bit columns to bytes, cuts at the first zero byte.
    ``majority=True`` (deskewed rasters) samples the 3x3-majority-voted mask
    (*maj*, precomputed per image via ``majority_ink``), absorbing the ±1 px
    jitter of NN rotation round-trips.
    """
    y1, y2, x1, x2 = box
    top = y1 + CELL_PAD
    left = x1 + CELL_PAD
    max_chars = max(0, (x2 - left - CELL_PAD) // BIT_PX)
    if max_chars == 0:
        return ""
    # glyph-block centers form a regular lattice → strided views, no copies
    if majority:
        # Jittered rasters: the detected line segments overshoot by ±2 px, so
        # re-anchor the glyph lattice on the LOCAL border-line edges: scan a
        # few rows/cols around the nominal interior start for the last one
        # that is ≥90% ink across the cell — that is the border's inner edge.
        h_img, w_img = ink.shape
        for y in range(min(y1 + 2, h_img - 1), max(y1 - 4, -1), -1):
            seg = ink[y, max(x1, 0) : x2]
            if seg.size and np.count_nonzero(seg) >= 0.9 * seg.size:
                top = y + 1 + CELL_PAD
                break
        for x in range(min(x1 + 2, w_img - 1), max(x1 - 4, -1), -1):
            seg = ink[max(y1, 0) : y2, x]
            if seg.size and np.count_nonzero(seg) >= 0.9 * seg.size:
                left = x + 1 + CELL_PAD
                break
        if maj is None:
            maj = majority_ink(ink)
        sub = maj[top + BIT_PX // 2 : y2 : BIT_PX, left + BIT_PX // 2 : x2 : BIT_PX]
    else:
        sub = ink[top + BIT_PX // 2 : y2 : BIT_PX, left + BIT_PX // 2 : x2 : BIT_PX]
    bits = sub[:CHAR_BITS, :max_chars]
    if bits.shape[0] == 0 or bits.shape[1] == 0:
        return ""
    if bits.shape[0] < CHAR_BITS:  # clipped cell: pad missing bit rows
        bits = np.vstack(
            [bits, np.zeros((CHAR_BITS - bits.shape[0], bits.shape[1]), bool)]
        )
    codes = np.packbits(bits, axis=0)[0]
    end = np.flatnonzero(codes == 0)
    if end.size:
        codes = codes[: end[0]]
    return "".join(chr(c) for c in codes)


def _decode_lattice_fast(ink: np.ndarray) -> str:
    """Vectorized straight-raster decode: ONE fancy-indexed gather samples
    every glyph-block center of every cell (B bands × 8 bits × C cols × M
    chars), then one packbits — replacing the per-cell strided sampling
    that dominated the kernel profile (11k ``decode_cell_text`` calls per
    1.5k docs).  Bitwise-identical output to the per-cell path (asserted by
    the byte-identity suite and a dedicated equivalence test): same sample
    coordinates (top+CELL_PAD+BIT_PX//2 + i·BIT_PX), same max_chars bound,
    same zero-byte terminator, same row-major tab/newline assembly.
    """
    h_lines = detect_rule_lines(ink, axis=1)
    v_lines = detect_rule_lines(ink, axis=0)
    if len(h_lines) < 2 or len(v_lines) < 2:
        return ""
    h_img, w_img = ink.shape
    tops = np.array([ye for (_ys, ye) in h_lines[:-1]], dtype=np.int64)
    bots = np.array([ys2 for (ys2, _ye2) in h_lines[1:]], dtype=np.int64)
    lefts = np.array([xe for (_xs, xe) in v_lines[:-1]], dtype=np.int64)
    rights = np.array([xs2 for (xs2, _xe2) in v_lines[1:]], dtype=np.int64)
    n_b, n_c = len(tops), len(lefts)
    max_chars = np.maximum(0, (rights - lefts - 2 * CELL_PAD) // BIT_PX)
    m = int(max_chars.max())
    if m == 0:
        return "\n".join("\t".join("" for _ in range(n_c)) for _ in range(n_b))
    off = CELL_PAD + BIT_PX // 2
    # sample rows (B, CHAR_BITS): beyond-bottom bits zero-padded like the
    # per-cell path's clipped-row vstack
    rr = tops[:, None] + off + np.arange(CHAR_BITS) * BIT_PX
    row_ok = rr < bots[:, None]
    row_idx = np.clip(rr, 0, h_img - 1)
    # sample cols (C, m): beyond-width chars masked to white
    cc = lefts[:, None] + off + np.arange(m) * BIT_PX
    col_ok = np.arange(m) < max_chars[:, None]
    col_idx = np.clip(cc, 0, w_img - 1)
    bits = ink[row_idx.reshape(-1)[:, None], col_idx.reshape(-1)[None, :]]
    bits = bits.reshape(n_b, CHAR_BITS, n_c, m)
    bits &= row_ok[:, :, None, None]
    bits &= col_ok[None, None, :, :]
    codes = np.packbits(bits, axis=1)[:, 0]            # (B, C, m) uint8
    # terminator cut, vectorized: first zero code within the cell's valid
    # char range (an out-of-range char acts as the terminator, so cells
    # with no zero stop exactly at max_chars — same as the per-cell slice)
    stop = (codes == 0) | ~col_ok[None, :, :]
    ends = np.where(stop.any(axis=2), stop.argmax(axis=2), m)
    out_rows = []
    for b in range(n_b):
        cells = [
            codes[b, j, : ends[b, j]].tobytes().decode("latin-1")
            for j in range(n_c)
        ]
        out_rows.append("\t".join(cells))
    return "\n".join(out_rows)


def decode_grid_image(gray: np.ndarray, jittered: bool = False) -> str:
    """Full sub-image decode: binarize → lines → cells → row-major text.

    Returns the raw assembled string: cells tab-joined within a row, rows
    newline-joined (SURVEY.md M3).  The detected boxes are deliberately
    re-ordered column-major first so that ``assemble_cells`` provably performs
    the row-major restoration rather than inheriting scan order.
    ``jittered=True`` (deskewed pages) switches to pair-union line detection
    and 3x3-majority bit sampling to absorb NN-rotation pixel jitter.
    """
    ink = binarize(gray)
    if not jittered:
        # straight rasters decode through the one-gather lattice fast path
        # (bitwise-identical; the per-cell path below remains the jittered
        # decoder and the reference implementation the tests compare against)
        return _decode_lattice_fast(ink)
    # deskewed pages carry white rotation margins; crop to the ink bbox so
    # rule lines span the full working extent again
    ys, xs = np.nonzero(ink)
    if len(ys) == 0:
        return ""
    ink = ink[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1]
    boxes = cell_bboxes(ink, pair_union=jittered)
    shuffled = sorted(boxes, key=lambda b: (b[2], b[0]))  # column-major scramble
    rows = assemble_cells(shuffled)
    maj = majority_ink(ink) if jittered and rows else None
    return "\n".join(
        "\t".join(
            decode_cell_text(ink, box, majority=jittered, maj=maj) for box in band
        )
        for band in rows
    )


def decode_grid_payload(png_bytes: bytes) -> str:
    """PNG page payload → raw assembled string (decode + grid decode)."""
    from .png import decode_png

    return decode_grid_image(decode_png(png_bytes))
