"""Seeded generator of NBODY6 simulation runs in the six raw formats.

Writes OUT34, OUT9, fort.19, fort.82, fort.83 and densCentre.txt for a
run of any size, in the layout ``tests/nbody6_fixtures.py`` documents
for its hand-written ten-star run, and returns the totals the pipeline
must reproduce for every (observer, time) of the run.

Cluster layout, per run:

- regularized binaries: a centre-of-mass particle in OUT34, the two
  components' attributes in fort.82 and the pairing in OUT9;
- unregularized binaries: both components in OUT34 and fort.83, the
  pairing in fort.19; a ``wide_frac`` share is wide enough to be
  resolved from every reference observer distance, the rest is tight;
- triples: a regularized binary plus a single companion, paired in
  fort.19 by the binary's centre-of-mass name (``hiarch`` 1), tight;
- singles fill the rest. ``outside_frac`` of the systems sit beyond
  twice the tidal radius, the others well inside it, so no system
  straddles the boundary the observer pre-filter uses;
- ``dissolve_at``: from that snapshot on r_tidal is -1 (dissolved).

Every member of a system shares its position to within 1e-6 pc, so
every observed source lies on the same side of 2 r_tidal as its
members. Hence, for each kept snapshot and each observer distance:

- ``n_star``: singles inside + tight binaries inside (one merged
  source each) + 2 x wide binaries inside + triples inside (one merged
  source each);
- ``within_2x_r_tidal_total_mass``: the summed mass of every star
  inside;
- ``n_binary_system``: binaries inside + 2 x triples inside (the inner
  pair and the outer orbit).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

R_TIDAL = 10.0
DENSITY_CENTER = (1.0, 2.0, 3.0)
# per-file timestamp jitter, within the aligner's 2e-2 tolerance
JITTER = {"OUT34": 0.0, "OUT9": 0.004, "fort.19": -0.004, "fort.82": 0.004,
          "fort.83": 0.0, "densCentre.txt": 0.0}
TIGHT_LOG_P = 1.0  # log10 period [days]: ~0.1 AU, unresolved at >= 50 pc
WIDE_LOG_P = 8.0   # ~5000 AU: resolved out to the 1200 pc observer
CM_BASE = 1_000_000  # centre-of-mass names of regularized binaries
DRIFT = 0.01  # pc per unit time, along +x


@dataclass(frozen=True)
class RunShape:
    stars: int = 10
    snapshots: int = 3
    reg_binaries: int = 1
    unreg_binaries: int = 1
    triples: int = 1
    wide_frac: float = 0.0
    outside_frac: float = 0.1
    dissolve_at: int | None = None

    def __post_init__(self):
        used = 2 * self.reg_binaries + 2 * self.unreg_binaries + self.triples
        if self.triples > self.reg_binaries:
            raise ValueError("every triple needs a regularized binary")
        if used > self.stars:
            raise ValueError(f"{used} system members exceed {self.stars} stars")


@dataclass(frozen=True)
class Expected:
    """Totals per kept snapshot, identical for every observer."""

    times: tuple[float, ...]
    n_star: int
    within_2x_r_tidal_total_mass: float
    n_binary_system: int


def _fmt(v: float) -> str:
    return repr(float(v))


def _position(rng: np.random.Generator, inside: bool) -> np.ndarray:
    """A point inside 1.6 r_tidal, or between 2.6 and 4 r_tidal, of the
    density centre; drifting by DRIFT * t never crosses 2 r_tidal."""
    lo, hi = (0.0, 1.6) if inside else (2.6, 4.0)
    r = R_TIDAL * rng.uniform(lo, hi)
    v = rng.normal(size=3)
    return np.asarray(DENSITY_CENTER) + r * v / np.linalg.norm(v)


def write_run(root: str, shape: RunShape, seed: int) -> Expected:
    """Write one run's six files under ``root``; return its totals."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n = shape.stars
    mass = np.round(rng.uniform(0.1, 8.0, n), 4)
    vel = np.round(rng.normal(0.0, 1.0, (n, 3)), 6)
    zlum = np.round(rng.uniform(-2.0, 3.0, n), 4)
    rad = np.round(rng.uniform(-1.0, 1.0, n), 4)
    tempe = np.round(rng.uniform(3.5, 4.3, n), 4)
    names = np.arange(1, n + 1)

    # star index ranges: [reg pairs | unreg pairs | singles]; the first
    # `triples` singles are the triples' companions
    n_reg, n_unreg = shape.reg_binaries, shape.unreg_binaries
    reg = [(2 * k, 2 * k + 1) for k in range(n_reg)]
    off = 2 * n_reg
    unreg = [(off + 2 * k, off + 2 * k + 1) for k in range(n_unreg)]
    singles = list(range(off + 2 * n_unreg, n))
    companions = singles[: shape.triples]
    n_wide = int(round(shape.wide_frac * n_unreg))

    # one position per system (a triple shares its binary's position)
    systems = [list(p) + ([companions[k]] if k < shape.triples else [])
               for k, p in enumerate(reg)]
    systems += [list(p) for p in unreg]
    systems += [[s] for s in singles[shape.triples:]]
    inside_sys = rng.uniform(size=len(systems)) >= shape.outside_frac
    pos = np.zeros((n, 3))
    inside = np.zeros(n, dtype=bool)
    for members, ins in zip(systems, inside_sys):
        p = _position(rng, bool(ins))
        for j, m in enumerate(members):
            pos[m] = p + j * 1e-6
            inside[m] = ins
    pos = np.round(pos, 7)

    times = [float(i) for i in range(shape.snapshots)]
    kept = times if shape.dissolve_at is None else times[: shape.dissolve_at]

    def at(i: int, t: float) -> np.ndarray:
        return pos[i] + np.array([DRIFT * t, 0.0, 0.0])

    def cm_at(i: int, j: int, t: float) -> np.ndarray:
        return (mass[i] * at(i, t) + mass[j] * at(j, t)) / (mass[i] + mass[j])

    def orbit_row(a: int, b: int, name_a: int, name_b: int, log_p: float,
                  ecc: float) -> list[str]:
        return ["0", "0", "0", _fmt(ecc), "1.0", _fmt(log_p),
                _fmt(mass[a]), _fmt(mass[b]), str(name_a), str(name_b),
                "1", "1"]

    reg_set = {i for p in reg for i in p}
    atomic = [i for i in range(n) if i not in reg_set]

    with open(os.path.join(root, "OUT34"), "w") as f:
        for t in times:
            toks = ["h%d" % i for i in range(28)]
            toks[5] = str(n)
            toks[7] = f"{t + JITTER['OUT34']:.4f}"
            toks[8], toks[9], toks[10] = "1.0", "1.0", _fmt(R_TIDAL)
            toks[12] = _fmt(mass.sum())
            toks[13:16] = [_fmt(v) for v in DENSITY_CENTER]
            toks[16:19] = ["0.1", "0.2", "0.3"]
            toks[22:25] = ["5.0", "6.0", "7.0"]
            toks[25:28] = ["0.5", "0.6", "0.7"]
            f.write("# " + " ".join(toks) + "\n")
            rows = []
            for k, (i, j) in enumerate(reg):
                c = cm_at(i, j, t)
                v = (mass[i] * vel[i] + mass[j] * vel[j]) / (mass[i] + mass[j])
                rows.append([*c, *v, mass[i] + mass[j], CM_BASE + k, 0])
            rows += [[*at(i, t), *vel[i], mass[i], names[i], 1] for i in atomic]
            f.write("".join(" ".join(_fmt(v) if isinstance(v, float) else str(v)
                                     for v in r) + "\n" for r in rows))

    with open(os.path.join(root, "OUT9"), "w") as f:
        for t in times:
            f.write("# hdr1\n")
            f.write(f"# {t + JITTER['OUT9']:.4f} {n_reg}\n")
            f.write("# hdr3\n")
            for k, (i, j) in enumerate(reg):
                row = orbit_row(i, j, names[i], names[j], TIGHT_LOG_P, 0.1)
                f.write(" ".join(row + ["0", str(CM_BASE + k)]) + "\n")

    with open(os.path.join(root, "fort.19"), "w") as f:
        for t in times:
            f.write(f"# {t + JITTER['fort.19']:.4f} {n_unreg + shape.triples}\n")
            for k, (i, j) in enumerate(unreg):
                log_p = WIDE_LOG_P if k < n_wide else TIGHT_LOG_P
                f.write(" ".join(orbit_row(i, j, names[i], names[j], log_p, 0.3)
                                 + ["0"]) + "\n")
            for k, c in enumerate(companions):
                i, j = reg[k]
                row = ["0", "0", "0", "0.5", "1.0", _fmt(TIGHT_LOG_P + 0.5),
                       _fmt(mass[i] + mass[j]), _fmt(mass[c]),
                       str(CM_BASE + k), str(names[c]), "1", "1", "1"]
                f.write(" ".join(row) + "\n")

    with open(os.path.join(root, "fort.82"), "w") as f:
        for t in times:
            f.write(f"## BEGIN T= {t + JITTER['fort.82']:.4f}\n")
            for i, j in reg:
                c = cm_at(i, j, t)
                toks = [str(names[i]), str(names[j]), "0", "0", "0",
                        *(_fmt(v) for v in c), "0", "0", "0",
                        _fmt(mass[i]), _fmt(mass[j]), _fmt(zlum[i]),
                        _fmt(zlum[j]), _fmt(rad[i]), _fmt(rad[j]),
                        _fmt(tempe[i]), _fmt(tempe[j])]
                f.write(" ".join(toks) + "\n")
            f.write("## END\n")

    with open(os.path.join(root, "fort.83"), "w") as f:
        for t in times:
            f.write(f"## BEGIN T= {t + JITTER['fort.83']:.4f}\n")
            for i in atomic:
                p = at(i, t)
                toks = [str(names[i]), "0", *(_fmt(v) for v in p),
                        _fmt(mass[i]), _fmt(zlum[i]), _fmt(rad[i]),
                        _fmt(tempe[i])]
                f.write(" ".join(toks) + "\n")
            f.write("## END\n")

    with open(os.path.join(root, "densCentre.txt"), "w") as f:
        for k, t in enumerate(times):
            dissolved = shape.dissolve_at is not None and k >= shape.dissolve_at
            rt = -1.0 if dissolved else R_TIDAL
            dc = " ".join(_fmt(v) for v in DENSITY_CENTER)
            f.write(f"{t:.4f} {_fmt(rt)} {dc}\n")

    reg_in = [inside[i] for i, _ in reg]
    triple_in = sum(reg_in[: shape.triples])
    unreg_in = [inside[i] for i, _ in unreg]
    wide_in = sum(unreg_in[:n_wide])
    tight_in = sum(reg_in[shape.triples:]) + sum(unreg_in[n_wide:])
    singles_in = sum(inside[s] for s in singles[shape.triples:])
    return Expected(
        times=tuple(kept),
        n_star=int(singles_in + tight_in + 2 * wide_in + triple_in),
        within_2x_r_tidal_total_mass=float(mass[inside].sum()),
        n_binary_system=int(sum(reg_in) + sum(unreg_in) + triple_in),
    )
