"""Output checks.  Each compares one iteration's result against values
computed once at set-up from the generator, never against an earlier
iteration of the program.  Each returns a list of failure messages; an
empty list means the output is correct."""

from __future__ import annotations

from . import gen

PSNR_MIN_X100 = 4000  # 40 dB, the lossy codecs' contract


def _first(bad: list[str], limit: int = 3) -> list[str]:
    return bad[:limit] + ([f"... {len(bad) - limit} more"] if len(bad) > limit else [])


def northstar(decoded: dict, expected: dict, ckpt_rows: dict) -> list[str]:
    """``decoded[(x, y)] = (features, sum px, sum py, decode errors)`` from
    the decode-back of the tile sink; ``expected[(x, y)] = (points, sum
    px, sum py)`` from the DuckDB replay; ``ckpt_rows[stage]`` is the
    summed row count the checkpoint recorded for each stage."""
    bad = []
    if set(decoded) != set(expected):
        bad.append(f"tile sets differ: {len(decoded)} decoded, "
                   f"{len(expected)} expected")
    for key in sorted(set(decoded) & set(expected)):
        n, sx, sy, errs = decoded[key]
        if errs:
            bad.append(f"tile {key}: {errs} decode errors")
        elif (n, sx, sy) != tuple(expected[key]):
            bad.append(f"tile {key}: decoded {(n, sx, sy)}, "
                       f"expected {tuple(expected[key])}")
    for stage in ("agg", "encode"):
        if ckpt_rows.get(stage) != len(expected):
            bad.append(f"checkpoint stage {stage} recorded "
                       f"{ckpt_rows.get(stage)} tiles, expected {len(expected)}")
    return _first(bad)


def tile_decode(mode: str, got: dict, expect: dict) -> list[str]:
    """``got[(x, y)] = (features, vertices, error rows)`` for one decode
    mode; ``expect`` as returned by :func:`gen.tiles`.  Validate and
    lenient agree on the valid tiles because both must equal the
    generator's spec.  A tile that yields neither a feature nor an error
    has no output row."""
    bad = []
    if not set(got) <= set(expect):
        bad.append(f"{mode}: tiles out that were never in: {sorted(set(got) - set(expect))[:3]}")
    for key in sorted(expect):
        cls, modes = expect[key]
        nf, nv, ne = modes[mode]
        gf, gv, ge = got.get(key, (0, 0, 0))
        if gf != nf or ge != ne or (nv is not None and gv != nv):
            bad.append(f"{mode}: tile {key} (class {cls}) gave "
                       f"{(gf, gv, ge)}, expected {(nf, nv, ne)}")
    return _first(bad)


def images(kind: str, rows: list, n_expected: int) -> list[str]:
    """``rows`` of (image_id, psnr_x100, error): every image must come
    back, without error and at 40 dB or better."""
    bad = []
    if len(rows) != n_expected:
        bad.append(f"{kind}: {len(rows)} rows, expected {n_expected}")
    for image_id, p, err in rows:
        if err is not None or p is None or p < PSNR_MIN_X100:
            bad.append(f"{kind}: {image_id} psnr_x100={p} error={err}")
    return _first(bad)


def pairs(rows: list, areas: dict) -> list[str]:
    """``rows`` of (pair_id, inter, union, diff, xor), each twice the
    area; ``areas[pair_id] = (|A|, |B|)`` doubled, from the shoelace
    formula.  The program returns the exact rational measures rounded to
    integers, so each identity holds to within 1."""
    bad = []
    if sorted(r[0] for r in rows) != sorted(areas):
        bad.append(f"{len(rows)} pairs out, {len(areas)} in")
    for pid, i2, u2, d2, x2 in rows:
        if pid not in areas:
            continue
        a2, b2 = areas[pid]
        ok = (0 <= i2 <= min(a2, b2)
              and abs(u2 + i2 - (a2 + b2)) <= 1
              and abs(x2 - (u2 - i2)) <= 1
              and abs(d2 - (a2 - i2)) <= 1)
        if not ok:
            bad.append(f"pair {pid}: inter={i2} union={u2} diff={d2} xor={x2}"
                       f" |A|={a2} |B|={b2}")
    return _first(bad)


def pair_areas(rows: list) -> dict:
    return {pid: (gen.area2(ax, ay), gen.area2(bx, by))
            for pid, ax, ay, bx, by in rows}
