"""Seeded bus-fleet generator for the blind-zone benchmark.

A fleet-day is a set of bus lines inside the Shenzhen bbox. Each line is
a bent polyline between two terminals with a few *planted blind zones*:
stretches of road where no ping gets through and buses run fast
(12-16 m/s, above the blind-zone cascade's 10 m/s floor). Buses shuttle
between the terminals at 5-8 m/s, dwell at each terminal with pings
inside 30 m of it (the round-trip filter's 100 m radius), and ping every
~20 s. On top come random ping loss and re-sent pings (same vehicle,
line and coordinates a few seconds later: the ``dropDuplicates`` case).

Files are written in the reference formats:

- ``gps.csv`` — ``id,linenumber,opath,lng,lat,t`` with ``yy-MM-dd
  HH:mm:ss`` (2-digit year) timestamps;
- ``bus_line.csv`` — semicolon-delimited terminals and stops
  (``existLine_id;x;y;direction;position;stop_name``, x = lat);
- ``lines95_parameter.csv`` — per-line ``(eps, min_samples)``, eps in km.

The ground truth — for every planted crossing, the last ping before the
zone and the first ping after it — is returned to the caller and never
written next to the program's inputs.

Self-test (same seed gives byte-identical files, another seed does not)::

    python3 perfbench/fleet.py
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass

import numpy as np

# Shenzhen bbox (FIXTURES.md A1)
LNG_MIN, LNG_MAX = 113.779, 114.417
LAT_MIN, LAT_MAX = 22.622, 22.735
_M_PER_DEG_LAT = 111_195.0
_M_PER_DEG_LNG = _M_PER_DEG_LAT * math.cos(math.radians((LAT_MIN + LAT_MAX) / 2))

_DAY = "19-05-06"  # service date, 2-digit year as in the reference sample
PING_S = 20  # mean ping interval; each interval is PING_S ± 2 s
LOSS = 0.01  # share of pings lost at random
DUP = 0.005  # share of pings re-sent a few seconds later
DWELL_S = (120.0, 300.0)  # terminal dwell


@dataclass(frozen=True)
class FleetSpec:
    """Size and shape of one workload's fleet."""

    lines: int
    buses_per_line: int
    start_h: float  # service window, hours of the day
    end_h: float
    zones_per_line: tuple[int, int]  # inclusive range, cycled over the lines
    route_km: tuple[float, float]


@dataclass
class Fleet:
    """Generated inputs (paths) plus the benchmark-side ground truth."""

    gps_csv: str
    bus_line_csv: str
    params_csv: str
    pings: int
    lines: int
    buses: int
    crossings: int  # planted crossings, counted by their last ping before the zone
    # (id, t) of the last ping before each planted crossing
    truth_before: frozenset
    # (id, t) of every ping adjacent to a planted crossing (before or after)
    truth_rows: frozenset


def _lnglat(x, y):
    """Local metres (equirectangular from the bbox corner) → degrees."""
    return LNG_MIN + np.asarray(x) / _M_PER_DEG_LNG, LAT_MIN + np.asarray(y) / _M_PER_DEG_LAT


_W = (LNG_MAX - LNG_MIN) * _M_PER_DEG_LNG
_H = (LAT_MAX - LAT_MIN) * _M_PER_DEG_LAT
_MARGIN = 300.0


def _route(rng: np.random.Generator, km: tuple[float, float]):
    """A bent polyline A → B inside the bbox: (xs, ys, cumulative arc m)."""
    while True:
        length = rng.uniform(*km) * 1000.0
        ax = rng.uniform(_MARGIN, _W - _MARGIN)
        ay = rng.uniform(_MARGIN, _H - _MARGIN)
        ang = rng.uniform(-0.35, 0.35) + (math.pi if rng.random() < 0.5 else 0.0)
        ux, uy = math.cos(ang), math.sin(ang)
        # two interior bends, offset perpendicular to the chord
        fr = np.array([0.0, 0.33, 0.66, 1.0])
        off = np.array([0.0, *rng.uniform(-0.06, 0.06, 2) * length, 0.0])
        xs = ax + fr * length * ux - off * uy
        ys = ay + fr * length * uy + off * ux
        if (
            xs.min() >= _MARGIN
            and xs.max() <= _W - _MARGIN
            and ys.min() >= _MARGIN
            and ys.max() <= _H - _MARGIN
        ):
            arc = np.concatenate([[0.0], np.cumsum(np.hypot(np.diff(xs), np.diff(ys)))])
            return xs, ys, arc


def _zones(rng: np.random.Generator, route_len: float, k: int) -> list[tuple[float, float]]:
    """``k`` disjoint zones of 900-1500 m, ≥ 800 m from either terminal."""
    lo, hi = 800.0, route_len - 800.0
    slot = (hi - lo) / k
    out = []
    for i in range(k):
        zl = min(rng.uniform(900.0, 1500.0), slot - 400.0)
        s0 = lo + i * slot + rng.uniform(200.0, max(200.0, slot - zl - 200.0))
        out.append((s0, s0 + zl))
    return out


def _bus_day(rng, route_len, zones, t0, t_end):
    """One bus's service day as pings on the route.

    Returns (times, arc, at_terminal, crossing) per *scheduled* ping,
    where ``crossing`` is ``-1`` outside zones and the crossing index
    inside one; and the crossing count.
    """
    # knots of the piecewise-linear arc position s(t)
    kt, ks = [t0], [0.0]
    forward = True
    crossings: list[tuple[float, float]] = []  # (t_entry, t_exit)
    t = t0
    while t < t_end:
        dwell = rng.uniform(*DWELL_S)
        s_here = 0.0 if forward else route_len
        t += dwell
        kt.append(t)
        ks.append(s_here)
        v = rng.uniform(5.0, 8.0)
        bounds = sorted(zones) if forward else sorted(((route_len - b, route_len - a) for a, b in zones))
        d = 0.0  # distance travelled along this traversal
        for za, zb in bounds:
            t += (za - d) / v
            t_in = t
            t += (zb - za) / rng.uniform(12.0, 16.0)
            crossings.append((t_in, t))
            d = zb
            for dd, tt in ((za, t_in), (zb, t)):
                kt.append(tt)
                ks.append(dd if forward else route_len - dd)
        t += (route_len - d) / v
        kt.append(t)
        ks.append(route_len if forward else 0.0)
        forward = not forward

    kt_a, ks_a = np.array(kt), np.array(ks)
    n = int((t_end - t0) / PING_S) + 2
    steps = PING_S + rng.integers(-2, 3, n)
    times = t0 + np.cumsum(steps)
    times = times[times < min(t_end, kt_a[-1])]
    arc = np.interp(times, kt_a, ks_a)
    cross = np.full(len(times), -1)
    for i, (ta, tb) in enumerate(crossings):
        cross[(times > ta) & (times < tb)] = i
    # at a terminal when s is pinned to an end during a dwell
    at_term = (arc <= 0.0) | (arc >= route_len)
    return times, arc, at_term, cross, len(crossings)


def _fmt_t(sec: np.ndarray) -> list[str]:
    out = []
    for s in sec.astype(np.int64):
        s = int(s)
        out.append(f"{_DAY} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}")
    return out


def generate(spec: FleetSpec, seed: int, out_dir: str) -> Fleet:
    """Write the fleet's three input files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    root = np.random.default_rng(seed)
    line_seeds = root.integers(0, 2**63, spec.lines)

    gps_rows: list[str] = []
    term_rows: list[str] = []
    param_rows: list[str] = []
    truth_before: set = set()
    truth_rows: set = set()
    vid = 0
    for li in range(spec.lines):
        rng = np.random.default_rng(int(line_seeds[li]))
        line = f"{li // 100:02d}E{li % 100:02d}"
        xs, ys, arc_knots = _route(rng, spec.route_km)
        route_len = float(arc_knots[-1])
        # zone counts cycle through the range by line index, so every seed
        # has the same mix of line shapes
        lo, hi = spec.zones_per_line
        zones = _zones(rng, route_len, lo + li % (hi - lo + 1))

        # terminals: A = direction 1, B = direction 2 (blank on some
        # lines: the reader maps a null direction to 2); plus mid-route
        # stops with position 0 that the terminal filter must skip
        (alng, blng), (alat, blat) = _lnglat(xs[[0, -1]], ys[[0, -1]])
        dir2 = "" if rng.random() < 0.2 else "2"
        term_rows.append(f"{line};{alat:.9f};{alng:.9f};1;1;{line}-A")
        term_rows.append(f"{line};{blat:.9f};{blng:.9f};{dir2};1;{line}-B")
        for k, fr in enumerate((0.3, 0.6)):
            slng, slat = _lnglat(np.interp(fr * route_len, arc_knots, xs), np.interp(fr * route_len, arc_knots, ys))
            term_rows.append(f"{line};{slat:.9f};{slng:.9f};{1 + k % 2};0;{line}-S{k}")
        eps = round(float(rng.uniform(0.4, 1.2)), 2)
        param_rows.append(f"{line},{eps},{int(rng.choice([2, 3, 5]))}")

        headway = (spec.end_h - spec.start_h) * 3600.0 / max(1, spec.buses_per_line) / 4.0
        for b in range(spec.buses_per_line):
            vid += 1
            bus = f"{vid:06d}"
            t0 = spec.start_h * 3600.0 + (b * headway) % 3600.0 + rng.uniform(0, 60)
            times, arc, at_term, cross, nc = _bus_day(rng, route_len, zones, t0, spec.end_h * 3600.0)
            x = np.interp(arc, arc_knots, xs)
            y = np.interp(arc, arc_knots, ys)
            # GPS noise: a few metres on the road, ≤ 30 m jitter at a terminal
            ang = rng.uniform(0, 2 * math.pi, len(times))
            rad = np.where(at_term, rng.uniform(0, 30.0, len(times)), rng.uniform(0, 5.0, len(times)))
            x = x + rad * np.cos(ang)
            y = y + rad * np.sin(ang)
            lng, lat = _lnglat(x, y)

            emitted = (cross < 0) & (rng.random(len(times)) >= LOSS)
            idx = np.flatnonzero(emitted)
            tstr = _fmt_t(times)
            # truth: per crossing, the last emitted ping before and the first after
            for c in range(nc):
                inside = np.flatnonzero(cross == c)
                if len(inside) == 0:
                    continue  # zone crossed between two pings: no gap
                pos = np.searchsorted(idx, inside[0])
                if pos == 0 or pos >= len(idx):
                    continue
                before, after = idx[pos - 1], idx[pos]
                truth_before.add((bus, tstr[before]))
                truth_rows.add((bus, tstr[before]))
                truth_rows.add((bus, tstr[after]))

            dup = rng.random(len(idx)) < DUP
            opath = rng.integers(1, 99_999, len(idx))
            dup_gap = rng.integers(1, 4, len(idx))
            for j, i in enumerate(idx):
                row = f"{bus},{line},{opath[j]},{lng[i]:.9f},{lat[i]:.9f},"
                gps_rows.append(row + tstr[i])
                if dup[j]:
                    gps_rows.append(row + _fmt_t(times[i : i + 1] + dup_gap[j])[0])

    # parameter rows for lines that run no buses today (the join skips them)
    for k in range(3):
        param_rows.append(f"99X{k:02d},{round(float(root.uniform(0.1, 5.0)), 2)},{int(root.choice([2, 3, 5]))}")

    paths = {
        "gps": os.path.join(out_dir, "gps.csv"),
        "bus_line": os.path.join(out_dir, "bus_line.csv"),
        "params": os.path.join(out_dir, "lines95_parameter.csv"),
    }
    with open(paths["gps"], "w") as fh:
        fh.write("id,linenumber,opath,lng,lat,t\n")
        fh.write("\n".join(gps_rows))
        fh.write("\n")
    with open(paths["bus_line"], "w") as fh:
        fh.write("existLine_id;x;y;direction;position;stop_name\n")
        fh.write("\n".join(term_rows))
        fh.write("\n")
    with open(paths["params"], "w") as fh:
        fh.write("new_linenumber,eps,min_samples\n")
        fh.write("\n".join(param_rows))
        fh.write("\n")
    return Fleet(
        gps_csv=paths["gps"],
        bus_line_csv=paths["bus_line"],
        params_csv=paths["params"],
        pings=len(gps_rows),
        lines=spec.lines,
        buses=vid,
        crossings=len(truth_before),
        truth_before=frozenset(truth_before),
        truth_rows=frozenset(truth_rows),
    )


def digest_inputs(fleet: Fleet) -> str:
    h = hashlib.sha256()
    for p in (fleet.gps_csv, fleet.bus_line_csv, fleet.params_csv):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _selftest() -> None:
    import tempfile

    spec = FleetSpec(lines=3, buses_per_line=4, start_h=6.0, end_h=8.0, zones_per_line=(1, 2), route_km=(6.0, 9.0))
    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as d:
        a = generate(spec, 7, os.path.join(d, "a"))
        b = generate(spec, 7, os.path.join(d, "b"))
        c = generate(spec, 8, os.path.join(d, "c"))
        if digest_inputs(a) != digest_inputs(b) or a.truth_rows != b.truth_rows:
            raise SystemExit("fleet self-test: same seed gave different inputs")
        if digest_inputs(a) == digest_inputs(c):
            raise SystemExit("fleet self-test: different seeds gave identical inputs")
        if a.crossings == 0:
            raise SystemExit("fleet self-test: no planted crossing")
    print(f"fleet self-test ok: {a.pings} pings, {a.crossings} crossings")


if __name__ == "__main__":
    _selftest()
