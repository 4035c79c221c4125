"""Zero-dependency timeline rendering — the presentation edge.

The reference renders its (disease, target) association timeline as a
seaborn/matplotlib figure (plot_timeseries.py:807-1098). This container
has neither library, and the engine's contract ends at the distributed
point query (plans/pipeline.point_query) — but "bring your own plotting"
left the figure itself as the one user-visible gap. This module closes
it without any native dependency: the timeline is rasterized into an
actual image file using the same container-friendly formats the
multimodal codecs already decode (binary PPM; BMP via the shared
encoder), so the round-trip render -> decode is testable inside this
repo with no image library at all.

Layout (mirroring the reference's figure semantics, not its styling):
one row per series — 'overall' first, then datasources alphabetically —
one column per year across the series' span. Cell fill encodes the
score (white -> saturated blue); a red underline marks novelty above
``novelty_marker`` (the reference's novelty peak dots). Missing
(year, series) cells stay white, exactly the dense-grid semantics the
point query emits.

This is driver-side presentation code by design: it consumes ROWS the
caller already collected at the presentation edge (S10 — the reference
collects to pandas at the same point), never a DataFrame — the package
keeps its zero-collect discipline.
"""

from __future__ import annotations

from collections.abc import Iterable


def _color(score: float) -> tuple[int, int, int]:
    """White (0.0) -> saturated blue (1.0), clamped."""
    s = min(max(float(score), 0.0), 1.0)
    return (int(255 - 205 * s), int(255 - 155 * s), 255)


def render_timeline_ppm(
    rows: Iterable,
    cell: int = 12,
    gutter: int = 2,
    novelty_marker: float = 0.1,
) -> bytes:
    """Rasterize point-query rows into binary PPM (P6) bytes.

    ``rows``: iterables/Rows with ``datasourceId``, ``year``, ``score``,
    ``novelty`` fields (the point_query output schema). Undated rows
    (NULL year) have no place on the year axis and are skipped. Returns
    the complete image file; decode it with
    ``extensions.multimodal._decode_ppm`` or any image viewer."""
    data = []
    for r in rows:
        get = r.__getitem__ if hasattr(r, "__getitem__") else None
        year = r["year"] if get else r.year
        if year is None:
            continue
        data.append(
            (
                r["datasourceId"] if get else r.datasourceId,
                int(year),
                float((r["score"] if get else r.score) or 0.0),
                float((r["novelty"] if get else r.novelty) or 0.0),
            )
        )
    if not data:
        raise ValueError("render_timeline_ppm: no rows with a year to render")
    series = sorted(
        {d[0] for d in data}, key=lambda s: (s != "overall", s)
    )
    y0, y1 = min(d[1] for d in data), max(d[1] for d in data)
    years = list(range(y0, y1 + 1))
    cells = {(d[0], d[1]): (d[2], d[3]) for d in data}

    w = gutter + len(years) * (cell + gutter)
    h = gutter + len(series) * (cell + gutter)
    img = bytearray(b"\xff" * (w * h * 3))

    def put(x: int, y: int, rgb: tuple[int, int, int]) -> None:
        off = (y * w + x) * 3
        img[off : off + 3] = bytes(rgb)

    for si, s in enumerate(series):
        top = gutter + si * (cell + gutter)
        for yi, year in enumerate(years):
            left = gutter + yi * (cell + gutter)
            if (s, year) not in cells:
                continue
            score, novelty = cells[(s, year)]
            rgb = _color(score)
            for dy in range(cell):
                for dx in range(cell):
                    put(left + dx, top + dy, rgb)
            if novelty >= novelty_marker:
                # red underline: the novelty-peak marker
                for dx in range(cell):
                    put(left + dx, top + cell - 1, (220, 40, 40))
                    put(left + dx, top + cell - 2, (220, 40, 40))
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + bytes(img)


def write_timeline(
    path: str,
    rows: Iterable,
    cell: int = 12,
    gutter: int = 2,
    novelty_marker: float = 0.1,
) -> str:
    """Render and write the timeline image; returns the path."""
    payload = render_timeline_ppm(rows, cell, gutter, novelty_marker)
    with open(path, "wb") as f:
        f.write(payload)
    return path
