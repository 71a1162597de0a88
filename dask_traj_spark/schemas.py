"""Canonical StructType schemas for the trajectory data model.

The reference stores a trajectory as chunked dask arrays
(``/root/reference/dask_traj/core/dask_traj.py:364-669``): xyz
``(n_frames, n_atoms, 3) float32``, time ``(n_frames,)``, unitcell
lengths/angles/vectors, plus an in-memory topology object. Our
relational model (SURVEY.md §1.4) is long-format DataFrames:

- ``coords(frame_id, atom_id, x, y, z)`` — the fact table, range
  partitioned by ``frame_id``;
- ``frames(frame_id, time, step)`` — per-frame dimension;
- ``unitcell(frame_id, a..gamma, ax..cz)`` — per-frame box, both
  representations flattened to prunable FLOAT columns;
- ``topology(atom_id, name, element, mass, residue_id,
  residue_name, chain_id)`` — small dimension, always broadcast.

float32/int32 enforcement everywhere in the reference
(``ensure_type``, ``utils/validation.py:14-143``) becomes explicit
FloatType/IntegerType here — schema-on-write instead of runtime
casts.
"""

from __future__ import annotations

from pyspark.sql import types as T

COORDS_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("atom_id", T.IntegerType(), False),
        T.StructField("x", T.FloatType(), False),
        T.StructField("y", T.FloatType(), False),
        T.StructField("z", T.FloatType(), False),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("time", T.DoubleType(), True),
        T.StructField("step", T.LongType(), True),
    ]
)

# Dual representation, kept in one row per frame: (a,b,c) lengths in
# nm, (alpha,beta,gamma) angles in degrees, and the 3x3 box vectors
# flattened to 9 scalar columns (codegen- and pruning-friendly; the
# reference keeps (n,3,3) arrays — core/dask_traj.py:519-560).
UNITCELL_SCHEMA = T.StructType(
    [T.StructField("frame_id", T.LongType(), False)]
    + [T.StructField(c, T.FloatType(), True) for c in ("a", "b", "c", "alpha", "beta", "gamma")]
    + [
        T.StructField(c, T.FloatType(), True)
        for c in ("ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz")
    ]
)

TOPOLOGY_SCHEMA = T.StructType(
    [
        T.StructField("atom_id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("element", T.StringType(), True),
        T.StructField("mass", T.DoubleType(), True),
        T.StructField("residue_id", T.IntegerType(), True),
        T.StructField("residue_name", T.StringType(), True),
        T.StructField("chain_id", T.IntegerType(), True),
    ]
)

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
    ]
)

TRIPLETS_SCHEMA = T.StructType(
    [
        T.StructField("triplet_id", T.IntegerType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("k", T.IntegerType(), False),
    ]
)

# Wide per-frame layout used by the vectorized (pandas-UDF) fast
# paths: one row per frame, coordinate arrays indexed by atom_id.
# This is the in-flight analog of the reference's per-chunk
# (chunk, n_atoms, 3) numpy view — never the storage format.
WIDE_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("xs", T.ArrayType(T.FloatType()), False),
        T.StructField("ys", T.ArrayType(T.FloatType()), False),
        T.StructField("zs", T.ArrayType(T.FloatType()), False),
    ]
)

DISTANCES_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField("dist", T.FloatType(), False),
    ]
)

DISPLACEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("pair_id", T.IntegerType(), False),
        T.StructField("dx", T.FloatType(), False),
        T.StructField("dy", T.FloatType(), False),
        T.StructField("dz", T.FloatType(), False),
    ]
)

ANGLES_SCHEMA = T.StructType(
    [
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("triplet_id", T.IntegerType(), False),
        T.StructField("angle_rad", T.FloatType(), False),
    ]
)
