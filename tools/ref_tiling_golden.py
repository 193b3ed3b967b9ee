"""Driver-side golden re-derivation of the reference's REAL dee tiling.

Re-implements, in pure Python (no shapely / no Spark), the semantics of
`Dee.populate` (reference ETL.py:555-715): the slot grid built from a
1-module SuperModule, the 8-corner annulus conditions, the polygon
overlap gate, the one-maybe-per-row sliding state machine
(ETL.py:601-629), the runs + two-pass fallback (ETL.py:631-668) and the
getPartition placement/counting (ETL.py:670-708; partition re-derived
in etl_sh_design_spark.operators.partition.best_partition).

Validated against COMMITTED reference notebook outputs (no-geometry
configurations, so pure algorithm parity):

- example.ipynb cell 14: 44.2x56.5 module, Dee(315,1185), edge_x=6,
  4 faces -> "Number of modules: 7704" (quarter = 1926)
- example.ipynb cell 24: disk2_back (below+centerPB) filled = 464
- example.ipynb cell 25: descoped Dee(315,1080), above+centerPB -> 385
- geometric_acceptance.ipynb cells 6-8: 43.1x56.5 module ->
  tot_fill*2 = 3936 (quarter = 1968)
- geometric_acceptance.ipynb cells 29-30: 22.35x56.5 module,
  flavors=[6,11,14] -> tot_fill = 3824

and driven with the full 'updated'-layout polygon geometry exactly the
way dee_geometry.py.__main__ drives it for module size 'S' (the
`--dee_layout updated` default): nose = 64-gon circle r=302; outer =
ring beyond r=1185 (64-gon hole) unioned with the feedthrough band
x in [1120,1185]; 8 outer attachments (rect + 64-pt buffer cap,
dee_geometry.py:79-94) at +-2.5/68/112/177.5 deg; 4 taper-0 inner
attachments at 0/90/180/270 deg whose heights differ on the FIRST face
(r_inner_first=322; dee_geometry.py:244-277). The `make_inner` ring
(shell r=300 with a LARGER hole, dee_geometry.py:96-103) is degenerate:
every slot in play lies beyond r>=302, outside its r=300 shell, so it
blocks nothing and is omitted.

Face configs (dee_geometry.py:346-351 / example.ipynb cell 6):
face1 above+centerModule (first layer), face2 above+centerPB,
face3 below+centerModule, face4 below+centerPB.

Known reference quirk, deliberately NOT reproduced because it only
affects x-positions, never counts: ETL.py:700 resets `start = length`
after each run instead of 0, so the reference's supermodule x-centers
are garbage for the 2nd+ run of multi-run rows (runs split by the
90/270-deg inner attachments). We place each run's boards from its own
slot positions; counts and flavor totals are identical either way.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from etl_sh_design_spark.operators.partition import best_partition

ETL_OUTER = 1185.0
NOSE_R = 302.0
FEEDTHROUGH_X = 1120.0

# face -> (orientation, centering); dee_geometry.py:346-351
FACE_CONFIGS = {
    "face1": ("above", "module"),
    "face2": ("above", "pb"),
    "face3": ("below", "module"),
    "face4": ("below", "pb"),
}


@dataclass
class TilingConfig:
    """One Dee.populate invocation's parameters."""

    mod_h: float = 43.10  # module x-extent ("height" in the reference)
    mod_w: float = 56.50  # module y-extent ("width")
    gap: float = 0.5
    pb_w: float = 29.5
    rb_w: float = 56.5
    r_inner: float = 315.0
    r_outer: float = 1185.0
    edge_x: float = 6.0
    flavors: tuple[int, ...] = (7, 6, 3)
    polys: dict[str, list] = field(default_factory=dict)  # blocked polygons
    outer_ring: bool = False  # block beyond the r_outer 64-gon + feedthrough

    @property
    def sm_w(self) -> float:  # 1-module SuperModule y-extent
        return self.mod_w + self.pb_w

    @property
    def n_rows(self) -> int:  # ETL.py:569
        return int(2 * self.r_outer / self.sm_w) + 2

    @property
    def n_cols(self) -> int:  # ETL.py:570
        return int(self.r_outer / (self.mod_h + self.gap)) + 2

    @property
    def x0(self) -> float:  # centerModule/centerPB both zero x1; + edge_x
        return self.mod_h / 2 + self.edge_x

    def y0(self, orientation: str, centering: str) -> float:
        """SM center y of the grid origin, from SuperModule.centerModule
        / centerPB (ETL.py:411-421) applied to the 1-module SM."""
        if centering == "module":
            return (
                self.sm_w / 2 - self.rb_w / 2
                if orientation == "above"
                else self.sm_w / 2 - self.pb_w - self.rb_w / 2
            )
        return (
            -self.sm_w / 2 + self.pb_w / 2
            if orientation == "above"
            else self.sm_w / 2 - self.pb_w / 2
        )

    def module_dy(self, orientation: str) -> float:
        """module[0] center offset from the SM center (ETL.py:340-344)."""
        return -self.pb_w / 2 if orientation == "above" else self.pb_w / 2


# ---------------------------------------------------------------- geometry
def circle_polygon(r: float, n: int = 64) -> list[tuple[float, float]]:
    """shapely Point.buffer(r) with default resolution 16 => inscribed
    64-gon with vertices on the axes."""
    return [
        (r * math.cos(2 * math.pi * i / n), r * math.sin(2 * math.pi * i / n))
        for i in range(n)
    ]


def rot_cw_translate(pts, angle_deg, dist):
    """rotate(poly, -angle, origin=(0,0)) then translate by
    (sin(a)*dist, cos(a)*dist) - dee_geometry.py:74-75, 91-92."""
    th = math.radians(angle_deg)
    c, s = math.cos(th), math.sin(th)
    dx, dy = s * dist, c * dist
    return [(x * c + y * s + dx, -x * s + y * c + dy) for x, y in pts]


def inner_attachment(angle: float, height: float, width: float) -> list:
    """Taper-0 inner attachment quad (dee_geometry.py:60-77), hung from
    r=302 regardless of face (dee_geometry.py:246-277 pass
    inner=r_inner=302 even on the first face)."""
    pts = [(-width / 2, -height), (-width / 2, 0.0), (width / 2, 0.0), (width / 2, -height)]
    return rot_cw_translate(pts, angle, NOSE_R + height)


def outer_attachment(angle: float, height: float = 107.5, width: float = 68.0) -> list:
    """Rect + semicircular cap (dee_geometry.py:79-94). The cap is
    shapely's 64-pt buffer circle at (0,-height); the union outline is
    the rect's top+sides plus the cap vertices below y=-height."""
    r = width / 2
    pts = [(-r, 0.0), (-r, -height)]
    for i in range(1, 32):  # lower half of the 64-gon
        a = math.pi + math.pi * i / 32
        pts.append((r * math.cos(a), -height + r * math.sin(a)))
    pts += [(r, -height), (r, 0.0)]
    return rot_cw_translate(pts, angle, ETL_OUTER)


OUTER_ATT_ANGLES = (2.5, 68.0, 112.0, 177.5, -2.5, -68.0, -112.0, -177.5)


def updated_layout_polygons(first: bool) -> dict[str, list]:
    """The 'updated'-layout overlap-tested polygon set for one face:
    nose + 4 inner + 8 outer attachments (dee_geometry.py:239-277).
    The outer ring + feedthrough are handled analytically (convex-hole
    containment + rect-rect), see _rect_blocked()."""
    h02 = (796.0 / 2 - 322.0) if first else (796.0 / 2 - NOSE_R)
    h99 = (395.0 - 322.0) if first else (395.0 - NOSE_R)
    polys = {"nose": circle_polygon(NOSE_R)}
    for a in (0.0, 180.0):
        polys[f"inner_att_{int(a)}"] = inner_attachment(a, h02, 170.0)
    for a in (90.0, 270.0):
        polys[f"inner_att_{int(a)}"] = inner_attachment(a, h99, 110.0)
    for a in OUTER_ATT_ANGLES:
        key = "outer_att_" + str(a).replace("-", "m").replace(".", "_")
        polys[key] = outer_attachment(a)
    return polys


def updated_config(face: str) -> TilingConfig:
    """dee_geometry.py.__main__ 'updated' + module size 'S': module
    43.10x56.50 gap 0.5, rb 56.5 / pb 29.5 (dee_geometry.py:316-339),
    edge_x=8 (:379), r_inner 322 on the first face else 302 (:244-262),
    full polygon geometry + outer ring/feedthrough."""
    return TilingConfig(
        mod_h=43.10,
        mod_w=56.50,
        gap=0.5,
        pb_w=29.5,
        rb_w=56.5,
        r_inner=322.0 if face == "face1" else 302.0,
        r_outer=ETL_OUTER,
        edge_x=8.0,
        polys=updated_layout_polygons(first=(face == "face1")),
        outer_ring=True,
    )


OUTER_64GON = circle_polygon(ETL_OUTER)
FEED_Y = math.sqrt(ETL_OUTER**2 - FEEDTHROUGH_X**2)


def point_in_polygon(px: float, py: float, verts: list) -> bool:
    inside = False
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def _seg_hits_rect(x0, y0, xe, ye, rx1, ry1, rx2, ry2) -> bool:
    """Liang-Barsky segment-vs-rect (interior contact counts)."""
    dx, dy = xe - x0, ye - y0
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, x0 - rx1), (dx, rx2 - x0), (-dy, y0 - ry1), (dy, ry2 - y0)):
        if p == 0:
            if q < 0:
                return False
        else:
            t = q / p
            if p < 0:
                t0 = max(t0, t)
            else:
                t1 = min(t1, t)
    return t0 <= t1


def rect_overlaps_polygon(rx1, ry1, rx2, ry2, verts) -> bool:
    """rect INTERSECTS polygon: corner inside, or edge through rect
    (the reference's overlaps-or-within, ETL.py:552-553)."""
    for cx, cy in ((rx1, ry1), (rx1, ry2), (rx2, ry1), (rx2, ry2)):
        if point_in_polygon(cx, cy, verts):
            return True
    n = len(verts)
    for i in range(n):
        x0, y0 = verts[i]
        xe, ye = verts[(i + 1) % n]
        if _seg_hits_rect(x0, y0, xe, ye, rx1, ry1, rx2, ry2):
            return True
    return False


def _rect_blocked(cfg: TilingConfig, rx1, ry1, rx2, ry2) -> bool:
    """overlaps(rect, dee_geo): any attachment/nose polygon, the outer
    ring (rect not fully inside the r_outer 64-gon - hole containment
    in a convex polygon is all-corners-inside), or the feedthrough
    band (dee_geometry.py:105-132)."""
    if cfg.outer_ring:
        for cx, cy in ((rx1, ry1), (rx1, ry2), (rx2, ry1), (rx2, ry2)):
            if not point_in_polygon(cx, cy, OUTER_64GON):
                return True
        if rx1 < ETL_OUTER and FEEDTHROUGH_X < rx2 and ry1 < FEED_Y and -FEED_Y < ry2:
            return True
    return any(rect_overlaps_polygon(rx1, ry1, rx2, ry2, v) for v in cfg.polys.values())


def _annulus_ok(rx1, ry1, rx2, ry2, r_in: float, r_out: float) -> bool:
    """The reference's 8 corner conditions (ETL.py:586-593): every
    corner strictly outside r_in and strictly inside r_out."""
    for cx, cy in ((rx1, ry1), (rx2, ry2), (rx1, ry2), (rx2, ry1)):
        d2 = cx * cx + cy * cy
        if not (d2 > r_in * r_in and d2 < r_out * r_out):
            return False
    return True


# ---------------------------------------------------------------- tiling
@dataclass
class Slot:
    row: int
    col: int
    xc: float
    yc: float
    state: str = "no"
    covered: bool = False


def availability_states(flags: list[tuple[bool, bool]], with_maybe: bool = True) -> list[str]:
    """The reference's per-row availability state machine (ETL.py:
    586-629) over precomputed (sm_fits, mod_fits) flags, sequential and
    verbatim-in-semantics: one maybe budget per row, prev-yes
    suppression, and the outward slide. `with_maybe=False` reproduces
    the OLDER machine (no maybe states at all) that the committed
    notebook outputs were generated with (the notebooks reference a
    `slot_matrix` attribute today's ETL.py no longer has)."""
    states: list[str] = []
    maybe_in_row = 0
    for sm_fits, mod_fits in flags:
        state = "no"
        if sm_fits:
            state = "yes"
        elif mod_fits and with_maybe:
            if maybe_in_row < 1:
                if states and states[-1] == "yes":
                    state = "no"
                else:
                    state = "maybe"
                    maybe_in_row += 1
            else:
                if states and states[-1] == "maybe":
                    state = "maybe"
                    states[-1] = "no"
        states.append(state)
    return states


def chain_rule_states(flags: list[tuple[bool, bool]]) -> list[str]:
    """The DECLARATIVE closed form of the same machine (what
    plans/dee_faces.py computes with windows): over maximal chains of
    consecutive module-only slots, a chain directly preceded by 'yes'
    qualifies only with length >= 2; the first qualifying chain wins
    the row's single maybe, on its LAST slot. Equivalence to
    availability_states is property-tested exhaustively."""
    n = len(flags)
    mod_only = [m and not s for s, m in flags]
    states = ["yes" if s else "no" for s, m in flags]
    chains = []  # (start, end)
    i = 0
    while i < n:
        if mod_only[i]:
            j = i
            while j + 1 < n and mod_only[j + 1]:
                j += 1
            chains.append((i, j))
            i = j + 1
        else:
            i += 1
    for start, end in chains:
        prev_yes = start > 0 and flags[start - 1][0]
        if prev_yes and (end - start + 1) == 1:
            continue  # does not qualify
        states[end] = "maybe"
        break  # first qualifying chain takes the row's budget
    return states


def face_slots(
    cfg: TilingConfig, orientation: str, centering: str, with_maybe: bool = True
) -> list[Slot]:
    """The slot grid with the reference's availability state machine
    (ETL.py:574-629) applied row by row, column by column."""
    y0 = cfg.y0(orientation, centering)
    dy = cfg.module_dy(orientation)

    slots: list[Slot] = []
    for row in range(cfg.n_rows):
        row_slots: list[Slot] = []
        flags: list[tuple[bool, bool]] = []
        for col in range(cfg.n_cols):
            xc = cfg.x0 + col * (cfg.mod_h + cfg.gap)
            yc = y0 + (cfg.n_rows // 2 - row) * cfg.sm_w
            row_slots.append(Slot(row, col, xc, yc))
            sx1, sx2 = xc - cfg.mod_h / 2, xc + cfg.mod_h / 2
            sy1, sy2 = yc - cfg.sm_w / 2, yc + cfg.sm_w / 2
            my1, my2 = yc + dy - cfg.mod_w / 2, yc + dy + cfg.mod_w / 2
            sm_fits = _annulus_ok(
                sx1, sy1, sx2, sy2, cfg.r_inner, cfg.r_outer
            ) and not _rect_blocked(cfg, sx1, sy1, sx2, sy2)
            mod_fits = (
                not sm_fits
                and _annulus_ok(sx1, my1, sx2, my2, cfg.r_inner, cfg.r_outer)
                and not _rect_blocked(cfg, sx1, my1, sx2, my2)
            )
            flags.append((sm_fits, mod_fits))
        for s, state in zip(row_slots, availability_states(flags, with_maybe)):
            s.state = state
        slots.extend(row_slots)
    return slots


def _split_runs(row_slots: list[Slot], states: tuple[str, ...]) -> list[list[Slot]]:
    runs, cur = [], None
    for s in row_slots:
        if s.state in states:
            if cur is None:
                cur = []
                runs.append(cur)
            cur.append(s)
        else:
            cur = None
    return runs


def tile(
    cfg: TilingConfig,
    orientation: str,
    centering: str,
    face: str = "",
    with_maybe: bool = True,
    literal_seven: bool = False,
) -> dict:
    """slots -> runs -> two-pass fallback -> partition placement;
    returns the face's totals, slot states, and placed supermodules.

    literal_seven=True is the REFERENCE-FIDELITY mode: the two-pass
    check uses the reference's hardcoded `partition[0] != 7` (ETL.py
    populate) instead of the generalized `!= max(flavors)`. Identical
    for the shipped flavor set {7,6,3}; for any flavor set without 7
    it demotes EVERY maybe-opening run. test_faces_tiling pins the
    divergent configuration so a silent behavior change fails loudly."""
    slots = face_slots(cfg, orientation, centering, with_maybe)
    by_row: dict[int, list[Slot]] = {}
    for s in slots:
        by_row.setdefault(s.row, []).append(s)

    flavor_counts: dict[int, int] = {f: 0 for f in cfg.flavors}
    n_modules = 0
    n_available = 0
    supermodules = []
    # DELIBERATE DEVIATION (mirrors plans/tiling.py runs_two_pass_from):
    # the reference literally writes `partition[0] != 7` in its
    # two-pass check; `largest` generalizes that to any flavor set and
    # is identical for the shipped {7,6,3}. Non-default-flavor pins all
    # run with_maybe=False, where the check is unreachable.
    largest = 7 if literal_seven else max(cfg.flavors)
    for row in sorted(by_row):
        row_slots = sorted(by_row[row], key=lambda s: s.col)
        runs = _split_runs(row_slots, ("yes", "maybe"))
        passed = all(
            not (p and r[0].state == "maybe" and p[0] != largest)
            for r in runs
            for p in [best_partition(len(r), cfg.flavors)]
        )
        if not passed:
            runs = _split_runs(row_slots, ("yes",))
        for r in runs:
            n_available += len(r)
            part = best_partition(len(r), cfg.flavors)
            start = 0
            for n_mod in part:
                xs = [s.xc for s in r[start : start + n_mod]]
                supermodules.append(
                    {"face": face, "row": row, "n_modules": n_mod,
                     "x": sum(xs) / n_mod, "y": r[0].yc}
                )
                flavor_counts[n_mod] += 1
                start += n_mod
            for s in r[: sum(part)]:
                s.covered = True
            n_modules += sum(part)
    return {
        "face": face,
        "n_modules": n_modules,
        "n_available": n_available,
        "n_supermodules": sum(flavor_counts.values()),
        "flavor_counts": flavor_counts,
        "slots": slots,
        "supermodules": supermodules,
    }


def tile_updated_all() -> dict[str, dict]:
    """The full dee_geometry 'updated'/'S' run over the 4 faces."""
    return {
        face: tile(updated_config(face), ori, cen, face)
        for face, (ori, cen) in FACE_CONFIGS.items()
    }


if __name__ == "__main__":
    # committed-output pins (see module docstring)
    ex_cfg = TilingConfig(mod_h=44.2)
    ex = {f: tile(ex_cfg, o, c, f) for f, (o, c) in FACE_CONFIGS.items()}
    q = sum(r["n_modules"] for r in ex.values())
    print(f"example.ipynb 44.2 module: quarter={q} x4={q * 4} (committed: 7704)")
    print(f"  disk2_back (below+PB) = {ex['face4']['n_modules']} (committed: 464)")
    desc = tile(TilingConfig(mod_h=44.2, r_outer=1080.0), "above", "pb")
    print(f"  descoped r_outer=1080 above+PB = {desc['n_modules']} (committed: 385)")

    ga = {f: tile(TilingConfig(), o, c, f) for f, (o, c) in FACE_CONFIGS.items()}
    qa = sum(r["n_modules"] for r in ga.values())
    print(f"geometric_acceptance 43.1 module: x2={qa * 2} (committed: 3936)")

    g2 = {
        f: tile(TilingConfig(mod_h=44.2), o, c, f) for f, (o, c) in FACE_CONFIGS.items()
    }
    print(f"geometric_acceptance 44.2 module: x2={sum(r['n_modules'] for r in g2.values()) * 2} (committed: 3852)")

    g3 = {
        f: tile(TilingConfig(mod_h=42.5 / 2 + 0.5 + 0.6, flavors=(14, 11, 6)), o, c, f)
        for f, (o, c) in FACE_CONFIGS.items()
    }
    print(f"geometric_acceptance 22.35 module [6,11,14]: tot={sum(r['n_modules'] for r in g3.values())} (committed: 3824)")

    print("\n'updated'/'S' full-geometry tiling:")
    total = 0
    counts = {3: 0, 6: 0, 7: 0}
    for face, res in tile_updated_all().items():
        total += res["n_modules"]
        for k, v in res["flavor_counts"].items():
            counts[k] += v
        print(
            f"  {face}: {res['n_modules']} modules, {res['n_supermodules']} SMs, "
            f"flavors {res['flavor_counts']}"
        )
    print(f"  total modules (1/4 ETL): {total}; full ETL: {total * 4}")
    print(f"  Small RBs {counts[3] * 4}, Medium RBs {counts[6] * 4}, Large RBs {counts[7] * 4}")
