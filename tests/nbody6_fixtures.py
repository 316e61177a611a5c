"""Synthetic NBODY6 raw-file fixtures (FIXTURES.md §1).

Writes a tiny simulation run as actual block-structured text files in
the reference's six formats, with known values so tests can
hand-compute expectations.

Cluster layout per timestamp (times 0.0, 1.0, 2.0):
- regularized binary (1,2): OUT34 carries its center-of-mass particle
  name=101; components' attrs in fort.82; pairing in OUT9
- unregularized binary (3,4): atoms in OUT34, attrs in fort.83,
  pairing in fort.19
- triple ((1+2)+5): fort.19 row name1=101 (the cm name), name2=5
- singles 5..10 in OUT34/fort.83; star 10 sits far outside 2*r_tidal
- per-file timestamp jitter within the 2e-2 alignment tolerance
- optional dissolved final timestamp (r_tidal <= 0)
"""

from __future__ import annotations

import os

R_TIDAL = 10.0
DC = (1.0, 2.0, 3.0)  # density center [pc]

# name -> (x, y, z, vx, vy, vz, mass)  (positions relative to origin)
STARS = {
    1: (1.0, 2.0, 3.5, 0.0, 1.0, 0.0, 5.0),
    2: (1.0, 2.0, 2.5, 0.0, -1.0, 0.0, 3.0),
    3: (2.0, 2.0, 3.0, 0.5, 0.0, 0.0, 2.0),
    4: (2.0, 3.0, 3.0, -0.5, 0.0, 0.0, 1.0),
    5: (4.0, 2.0, 3.0, 0.0, 0.0, 1.0, 1.5),
    6: (1.0, 6.0, 3.0, 0.0, 0.0, -1.0, 1.0),
    7: (6.0, 2.0, 3.0, 1.0, 1.0, 0.0, 0.8),
    8: (1.0, 2.0, 9.0, 0.0, 1.0, 1.0, 0.6),
    9: (9.0, 9.0, 9.0, 1.0, 0.0, 1.0, 0.5),
    10: (40.0, 40.0, 40.0, 2.0, 2.0, 2.0, 0.4),  # outside 2x r_tidal
}
# attrs: name -> (zlum, rad, tempe)  [log10 solar units / log10 K]
ATTRS = {
    1: (1.0, 0.3, 3.9),
    2: (0.5, 0.1, 3.8),
    3: (0.2, 0.05, 3.76),
    4: (-0.1, -0.05, 3.74),
    5: (0.0, 0.0, 3.76),
    6: (-0.3, -0.1, 3.72),
    7: (-0.5, -0.15, 3.70),
    8: (-0.8, -0.2, 3.68),
    9: (-1.0, -0.25, 3.66),
    10: (-1.2, -0.3, 3.64),
}
CM_NAME = 101
# OUT9 regularized binary (1,2): ecc, semi(NB units), log10 period days
REG_BIN = dict(ecc=0.1, semi=0.5, p=1.0, m1=5.0, m2=3.0, n1=1, n2=2)
# fort.19 rows: (3,4) plain + (101,5) hierarchical triple
F19_BINS = [
    dict(ecc=0.3, semi=2.0, p=3.0, m1=2.0, m2=1.0, n1=3, n2=4, hi=0),
    dict(ecc=0.5, semi=20.0, p=5.5, m1=8.0, m2=1.5, n1=CM_NAME, n2=5, hi=1),
]

TIMES = [0.0, 1.0, 2.0]
JITTER = {"OUT34": 0.0, "OUT9": 0.004, "fort.19": -0.004, "fort.82": 0.004,
          "fort.83": 0.0, "densCentre.txt": 0.0}


def cm_of(n1: int, n2: int, name: int):
    """OUT34 center-of-mass particle for the (n1, n2) binary."""
    s1, s2 = STARS[n1], STARS[n2]
    m1, m2 = s1[6], s2[6]
    tot = m1 + m2
    pos = [(m1 * s1[i] + m2 * s2[i]) / tot for i in range(6)]
    return (*pos, tot, name, 0)


def cm_row(t_idx: float):
    """OUT34 center-of-mass particle for the (1,2) binary."""
    return cm_of(1, 2, CM_NAME)


def _drift(name: int, t: float) -> tuple:
    x, y, z, vx, vy, vz, m = STARS[name]
    return (x + 0.01 * t, y, z, vx, vy, vz, m)


def write_run(root: str, dissolve_last: bool = False,
              drop_name: int | tuple[int, ...] | None = None):
    """Write the six files. ``dissolve_last``: final timestamp has
    r_tidal=-1. ``drop_name``: omit that star, or those stars, from
    fort.83 (strict-mode missing-name fixture)."""
    dropped = {drop_name} if isinstance(drop_name, int) else set(drop_name or ())
    os.makedirs(root, exist_ok=True)

    atomic = [n for n in STARS if n not in (1, 2)]

    with open(os.path.join(root, "OUT34"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["OUT34"]
            # 28 header tokens; schema picks 5..27 (out34.py:10-21)
            toks = ["h%d" % i for i in range(28)]
            toks[5] = "10"           # nzero
            toks[7] = f"{tj:.4f}"    # time
            toks[8] = "1.0"          # rbar
            toks[9] = "1.0"          # vstar
            toks[10] = f"{R_TIDAL}"  # rtide
            toks[12] = "15.0"        # plummer_mass
            toks[13:16] = [f"{v}" for v in DC]            # rd
            toks[16:19] = ["0.1", "0.2", "0.3"]           # rcm
            toks[22:25] = ["5.0", "6.0", "7.0"]           # rg
            toks[25:28] = ["0.5", "0.6", "0.7"]           # vg
            f.write("# " + " ".join(toks) + "\n")
            rows = [cm_row(t)] + [(*_drift(n, t), n, 1) for n in atomic]
            for r in rows:
                f.write(" ".join(f"{v}" for v in r) + "\n")

    with open(os.path.join(root, "OUT9"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["OUT9"]
            f.write("# hdr1\n")
            f.write(f"# {tj:.4f} 1\n")   # concatenated idx 1=time, 2=npairs
            f.write("# hdr3\n")
            b = REG_BIN
            toks = ["0", "0", "0", f"{b['ecc']}", f"{b['semi']}", f"{b['p']}",
                    f"{b['m1']}", f"{b['m2']}", str(b["n1"]), str(b["n2"]),
                    "1", "1", "0", str(CM_NAME)]
            f.write(" ".join(toks) + "\n")

    with open(os.path.join(root, "fort.19"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["fort.19"]
            f.write(f"# {tj:.4f} {len(F19_BINS)}\n")
            for b in F19_BINS:
                toks = ["0", "0", "0", f"{b['ecc']}", f"{b['semi']}", f"{b['p']}",
                        f"{b['m1']}", f"{b['m2']}", str(b["n1"]), str(b["n2"]),
                        "1", "1", str(b["hi"])]
                f.write(" ".join(toks) + "\n")

    with open(os.path.join(root, "fort.82"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["fort.82"]
            f.write(f"## BEGIN T= {tj:.4f}\n")   # lstrip leaves ['T=', time]
            s1, s2 = _drift(1, t), _drift(2, t)
            a1, a2 = ATTRS[1], ATTRS[2]
            toks = [str(1), str(2), "0", "0", "0",
                    f"{(s1[0]+s2[0])/2}", f"{(s1[1]+s2[1])/2}", f"{(s1[2]+s2[2])/2}",
                    "0", "0", "0",
                    f"{s1[6]}", f"{s2[6]}",
                    f"{a1[0]}", f"{a2[0]}", f"{a1[1]}", f"{a2[1]}",
                    f"{a1[2]}", f"{a2[2]}"]
            f.write(" ".join(toks) + "\n")
            f.write("## END\n")

    with open(os.path.join(root, "fort.83"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["fort.83"]
            f.write(f"## BEGIN T= {tj:.4f}\n")
            for n in atomic:
                if n in dropped:
                    continue
                s = _drift(n, t)
                a = ATTRS[n]
                # fort83.py schema: name@0, x@2..z@4, mass@5, zlum@6,
                # rad@7, tempe@8 — token index 1 is skipped
                toks = [str(n), "0", f"{s[0]}", f"{s[1]}", f"{s[2]}",
                        f"{s[6]}", f"{a[0]}", f"{a[1]}", f"{a[2]}"]
                f.write(" ".join(toks) + "\n")
            f.write("## END\n")

    with open(os.path.join(root, "densCentre.txt"), "w") as f:
        for i, t in enumerate(TIMES):
            rt = -1.0 if (dissolve_last and i == len(TIMES) - 1) else R_TIDAL
            f.write(f"{t:.4f} {rt} {DC[0]} {DC[1]} {DC[2]}\n")

    return root


# ---------------------------------------------------------------------------
# Quadruple fixture: pair-of-pairs ((1+2)+(3+4)) — the DEEPEST hierarchy
# the reference supports (observer.py:117-127 _fetch_attrs accepts
# component groups of size 1 or 2 only; each side of a top-level system
# is itself at most a pair, so merge depth is exactly 2 levels).
# ---------------------------------------------------------------------------

CM2_NAME = 102
# OUT9 rows: both inner binaries regularized, tight orbits (semi ~0.18 AU
# -> unresolved at every observer distance >= 50 pc)
QUAD_REG_BINS = [
    dict(ecc=0.1, semi=0.5, p=1.0, m1=5.0, m2=3.0, n1=1, n2=2, cm=CM_NAME),
    dict(ecc=0.2, semi=0.4, p=1.2, m1=2.0, m2=1.0, n1=3, n2=4, cm=CM2_NAME),
]
# fort.19 outer orbit (101,102): log10 P = 5.5 days, M = 11 Msun
# -> semi ~201.6 AU: RESOLVED below ~336 pc (0.6*dist < semi),
# UNRESOLVED at larger observer distances — the classification boundary
# the wide-coordinate stress test sweeps across.
QUAD_OUTER = dict(
    ecc=0.4, semi=100.0, p=5.5, m1=8.0, m2=3.0, n1=CM_NAME, n2=CM2_NAME,
    hi=1,
)
QUAD_SINGLES = (5, 6, 10)  # 10 sits outside 2x r_tidal


def write_quad_run(root: str) -> str:
    """Write a run whose only hierarchy is the quadruple
    ((1+2)+(3+4)): two regularized inner binaries (cm particles 101 and
    102 in OUT34, attrs in fort.82, pairings in OUT9) bound by one
    fort.19 row (101, 102), plus singles 5/6 and far-out 10."""
    os.makedirs(root, exist_ok=True)

    with open(os.path.join(root, "OUT34"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["OUT34"]
            toks = ["h%d" % i for i in range(28)]
            toks[5] = "8"
            toks[7] = f"{tj:.4f}"
            toks[8] = "1.0"
            toks[9] = "1.0"
            toks[10] = f"{R_TIDAL}"
            toks[12] = "15.0"
            toks[13:16] = [f"{v}" for v in DC]
            toks[16:19] = ["0.1", "0.2", "0.3"]
            toks[22:25] = ["5.0", "6.0", "7.0"]
            toks[25:28] = ["0.5", "0.6", "0.7"]
            f.write("# " + " ".join(toks) + "\n")
            rows = [cm_of(1, 2, CM_NAME), cm_of(3, 4, CM2_NAME)] + [
                (*_drift(n, t), n, 1) for n in QUAD_SINGLES
            ]
            for r in rows:
                f.write(" ".join(f"{v}" for v in r) + "\n")

    with open(os.path.join(root, "OUT9"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["OUT9"]
            f.write("# hdr1\n")
            f.write(f"# {tj:.4f} {len(QUAD_REG_BINS)}\n")
            f.write("# hdr3\n")
            for b in QUAD_REG_BINS:
                toks = ["0", "0", "0", f"{b['ecc']}", f"{b['semi']}",
                        f"{b['p']}", f"{b['m1']}", f"{b['m2']}",
                        str(b["n1"]), str(b["n2"]), "1", "1", "0",
                        str(b["cm"])]
                f.write(" ".join(toks) + "\n")

    with open(os.path.join(root, "fort.19"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["fort.19"]
            f.write(f"# {tj:.4f} 1\n")
            b = QUAD_OUTER
            toks = ["0", "0", "0", f"{b['ecc']}", f"{b['semi']}", f"{b['p']}",
                    f"{b['m1']}", f"{b['m2']}", str(b["n1"]), str(b["n2"]),
                    "1", "1", str(b["hi"])]
            f.write(" ".join(toks) + "\n")

    with open(os.path.join(root, "fort.82"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["fort.82"]
            f.write(f"## BEGIN T= {tj:.4f}\n")
            for n1, n2 in ((1, 2), (3, 4)):
                s1, s2 = _drift(n1, t), _drift(n2, t)
                a1, a2 = ATTRS[n1], ATTRS[n2]
                toks = [str(n1), str(n2), "0", "0", "0",
                        f"{(s1[0]+s2[0])/2}", f"{(s1[1]+s2[1])/2}",
                        f"{(s1[2]+s2[2])/2}",
                        "0", "0", "0",
                        f"{s1[6]}", f"{s2[6]}",
                        f"{a1[0]}", f"{a2[0]}", f"{a1[1]}", f"{a2[1]}",
                        f"{a1[2]}", f"{a2[2]}"]
                f.write(" ".join(toks) + "\n")
            f.write("## END\n")

    with open(os.path.join(root, "fort.83"), "w") as f:
        for t in TIMES:
            tj = t + JITTER["fort.83"]
            f.write(f"## BEGIN T= {tj:.4f}\n")
            for n in QUAD_SINGLES:
                s = _drift(n, t)
                a = ATTRS[n]
                toks = [str(n), "0", f"{s[0]}", f"{s[1]}", f"{s[2]}",
                        f"{s[6]}", f"{a[0]}", f"{a[1]}", f"{a[2]}"]
                f.write(" ".join(toks) + "\n")
            f.write("## END\n")

    with open(os.path.join(root, "densCentre.txt"), "w") as f:
        for t in TIMES:
            f.write(f"{t:.4f} {R_TIDAL} {DC[0]} {DC[1]} {DC[2]}\n")

    return root
