"""Angles (G3/G4) and dihedrals — SQL and vectorized forms.

Semantics per the reference's pure-array path
(``/root/reference/dask_traj/geometry/angle.py:142-176``): for each
triplet (i, j, k), u = MIC(r_i − r_j), v = MIC(r_k − r_j), angle =
arccos(û · v̂). Returned in radians, float32, as
(frame_id, triplet_id, angle_rad).

Both forms come from the shared geometry core in ``distance.py``:
the SQL form is the role stitch (:func:`_role_coords_sql`) + the leg
displacements (:func:`_add_legs`) + a codegen'd acos/atan2
expression; the vectorized form is :func:`_vectorized_op` running
the numpy kernel over packed frame blocks — zero shuffles when the
trajectory is already frame-packed.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, functions as F

from dask_traj_spark import schemas
from dask_traj_spark.operators import kernels
from dask_traj_spark.operators.distance import (
    _add_legs,
    _normalize_indices,
    _resolve_form,
    _role_coords_sql,
    _vectorized_op,
    compute_distances,
)

_DIHEDRALS_SCHEMA = "frame_id long, quartet_id int, dihedral_rad float"


def compute_angles(
    traj,
    angle_indices: Iterable,
    periodic: bool = True,
    form: str = "auto",
    n_atoms: int | None = None,
    _round6_double: bool = False,
) -> DataFrame:
    """Angle at the middle atom of each (i, j, k) triplet.

    Reference driver: geometry/angle.py:58-139.

    SQL plan shape: ONE three-way stitch — broadcast the triplet
    table onto the mid-atom rows, then join the i- and k-atom rows by
    (frame_id, atom) — so the coords lineage is scanned three times
    (once per role), and both MIC applications share a single box
    join.
    """
    arr = _normalize_indices(angle_indices, 3, n_atoms or traj.n_atoms, "angle_indices")
    form = _resolve_form(form, len(arr))
    if len(arr) == 0:  # empty short-circuit (angle.py:98-99)
        return traj.spark.createDataFrame([], schemas.ANGLES_SCHEMA)
    if form == "vectorized" and not _round6_double:
        # (the rounding knob only exists on the SQL path)
        return _vectorized_op(
            traj, arr, periodic, kernels.angles_np,
            "triplet_id", ("angle_rad",), schemas.ANGLES_SCHEMA,
        )
    df = _add_legs(
        traj,
        _role_coords_sql(traj, arr, "triplet_id"),
        {"u": ("j", "i"), "v": ("j", "k")},
        periodic and traj.have_unitcell,
    )
    # x*x, not pow(x,2): multiplication is IEEE exact-rounded, pow is
    # not guaranteed — matters for bit-reproducibility vs the oracle
    sq = lambda c: F.col(c) * F.col(c)  # noqa: E731
    un = F.sqrt(sq("ux") + sq("uy") + sq("uz"))
    vn = F.sqrt(sq("vx") + sq("vy") + sq("vz"))
    dot = F.col("ux") * F.col("vx") + F.col("uy") * F.col("vy") + F.col("uz") * F.col("vz")
    cosang = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), dot / (un * vn)))
    # transcendental-protection option (policy item 3, same knob as
    # compute_dihedrals): acos kept in DOUBLE and rounded to 1e-6 rad
    # for oracle-gated callers; public default stays float32
    ang = (
        F.round(F.acos(cosang), 6)
        if _round6_double
        else F.acos(cosang).cast("float")
    )
    return df.select("frame_id", "triplet_id", ang.alias("angle_rad"))


def compute_dihedrals(
    traj,
    quartets: Iterable,
    periodic: bool = True,
    form: str = "auto",
    n_atoms: int | None = None,
    _round6_double: bool = False,
) -> DataFrame:
    """Signed torsion angle of each (i, j, k, l) quartet →
    (frame_id, quartet_id, dihedral_rad FLOAT) in (-π, π].

    Beyond-reference (the reference stops at angles; this matches the
    public mdtraj ``compute_dihedrals`` semantics): with
    b1 = r_j−r_i, b2 = r_k−r_j, b3 = r_l−r_k (each MIC'd when
    periodic), dihedral = atan2(|b2|·(b1·(b2×b3)), (b1×b2)·(b2×b3)).

    SQL plan shape: the angles stitch widened to four roles — ONE
    broadcast of the quartet table onto the j-atom rows, then three
    (frame, atom) joins; every cross/dot product is a codegen'd
    column expression (products of dyadic-grid displacement
    components stay exact, so only the final atan2 is
    transcendental).  Vectorized form: numpy kernel over packed
    frame blocks, shuffle-free."""
    arr = _normalize_indices(quartets, 4, n_atoms or traj.n_atoms, "quartets")
    form = _resolve_form(form, len(arr))
    if len(arr) == 0:
        return traj.spark.createDataFrame([], _DIHEDRALS_SCHEMA)
    if form == "vectorized":
        return _vectorized_op(
            traj, arr, periodic, kernels.dihedrals_np,
            "quartet_id", ("dihedral_rad",), _DIHEDRALS_SCHEMA,
        )
    df = _add_legs(
        traj,
        _role_coords_sql(traj, arr, "quartet_id"),
        {"b1": ("i", "j"), "b2": ("j", "k"), "b3": ("k", "l")},
        periodic and traj.have_unitcell,
    )
    # cross products as explicit exact-rounded column expressions
    df = df.withColumns(
        {
            # c23 = b2 × b3
            "c23x": F.col("b2y") * F.col("b3z") - F.col("b2z") * F.col("b3y"),
            "c23y": F.col("b2z") * F.col("b3x") - F.col("b2x") * F.col("b3z"),
            "c23z": F.col("b2x") * F.col("b3y") - F.col("b2y") * F.col("b3x"),
            # c12 = b1 × b2
            "c12x": F.col("b1y") * F.col("b2z") - F.col("b1z") * F.col("b2y"),
            "c12y": F.col("b1z") * F.col("b2x") - F.col("b1x") * F.col("b2z"),
            "c12z": F.col("b1x") * F.col("b2y") - F.col("b1y") * F.col("b2x"),
        }
    )
    sq = lambda c: F.col(c) * F.col(c)  # noqa: E731
    b2n = F.sqrt(sq("b2x") + sq("b2y") + sq("b2z"))
    y = b2n * (
        F.col("b1x") * F.col("c23x")
        + F.col("b1y") * F.col("c23y")
        + F.col("b1z") * F.col("c23z")
    )
    x = (
        F.col("c12x") * F.col("c23x")
        + F.col("c12y") * F.col("c23y")
        + F.col("c12z") * F.col("c23z")
    )
    # public output is float32 (consistent with angles); the oracle-
    # parity wrapper keeps double + round(6) instead — the standard
    # transcendental-protection policy (queries.py docstring item 3):
    # y and x are EXACT doubles (products of dyadic grid values), so
    # only atan2's last-ulp can differ between engines, and round-6
    # collapses it.
    out = (
        F.round(F.atan2(y, x), 6)
        if _round6_double
        else F.atan2(y, x).cast("float")
    )
    return df.select(
        "frame_id",
        "quartet_id",
        out.alias("dihedral_rad"),
    )


def hydrogen_bonds(
    traj,
    triplets: Iterable,
    dist_cutoff: float = 0.5,
    angle_min: float = 1.75,
    periodic: bool = True,
    n_atoms: int | None = None,
    _round6_double: bool = False,
) -> DataFrame:
    """Geometric hydrogen-bond criterion over (donor, hydrogen,
    acceptor) triplets → (frame_id, triplet_id, dist, angle_rad,
    is_hbond): the H···A distance must fall below ``dist_cutoff``
    AND the D-H···A angle (at the hydrogen) must exceed
    ``angle_min`` radians — the mdtraj ``baker_hubbard`` geometry
    test as a composition of the two public primitives
    (``compute_distances`` on the (h, a) pairs, ``compute_angles``
    on the triplets), joined on (frame_id, id).

    Beyond-reference (the reference stops at distances/angles; its
    users run H-bond analysis through ``to_mdtraj``).

    Plan shape: the two primitive plans each scan the coords
    lineage with role-restricted atom pushdown, then meet in ONE
    equi-join on (frame_id, triplet_id) — both sides are already
    hash-partitioned by frame-dominated keys, and the triplet table
    is broadcast inside each primitive.  Pass dyadic thresholds
    (0.5, 1.75 are exact in f32/f64) so the flag comparison cannot
    straddle an engine rounding difference.
    """
    arr = _normalize_indices(
        triplets, 3, n_atoms or traj.n_atoms, "triplets"
    )
    a = compute_angles(
        traj, arr, periodic=periodic, form="sql", n_atoms=n_atoms,
        _round6_double=_round6_double,
    )
    d = compute_distances(
        traj, arr[:, 1:3], periodic=periodic, form="sql", n_atoms=n_atoms
    ).select(
        F.col("frame_id").alias("_dfid"),
        F.col("pair_id").alias("_dpid"),
        "dist",
    )
    j = a.join(
        d,
        (F.col("frame_id") == F.col("_dfid"))
        & (F.col("triplet_id") == F.col("_dpid")),
    )
    return j.select(
        "frame_id",
        "triplet_id",
        "dist",
        "angle_rad",
        (
            (F.col("dist") < F.lit(dist_cutoff))
            & (F.col("angle_rad") > F.lit(angle_min))
        ).alias("is_hbond"),
    )
