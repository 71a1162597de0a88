"""The benchmark workloads.

Each workload loads a different layer of ``dask_traj_spark`` and
leaves the others idle:

- ``canonical_distances``: the paper's query shape (22,561 atoms,
  124,750 pairs, orthorhombic box) on JVM-generated packed frames:
  the numpy kernels plus the Arrow boundary.
- ``geometry_suite``: the reference tests' operations on a triclinic
  frame-bucketed Parquet trajectory: SQL forms, GROUP BY
  aggregates, Parquet pruning and the ``frame_packed`` shuffle.
- ``corpus_neardup``: exact and MinHash near-duplicate detection on
  a corpus with planted copies: the shuffle-heavy dedup operators.

Every input is derived from the seed.  ``run_pass`` is the timed
unit; ``check`` compares its output with an independent oracle and
raises ``CheckFailed``; ``probes`` runs the extra, untimed layer
measurements of a traced run.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import numpy as np


class CheckFailed(Exception):
    """A pass produced output that disagrees with its oracle."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _close(got, want, atol: float, what: str) -> None:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    _require(got.shape == want.shape, f"{what}: shape {got.shape} != {want.shape}")
    err = float(np.max(np.abs(got - want))) if got.size else 0.0
    _require(err <= atol, f"{what}: max abs error {err:.3g} > {atol}")


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _execute(df) -> None:
    """Materialize a DataFrame without moving rows to the driver."""
    df._jdf.queryExecution().toRdd().count()


def pack_seconds(traj) -> float:
    """Seconds to execute ``traj.frame_packed()`` (scan, range exchange,
    sort); 0 when the trajectory is already packed and the call returns
    its coords plan unchanged."""
    packed = traj.frame_packed()
    return 0.0 if packed is traj.coords else _timed(lambda: _execute(packed))


#: Operation counts per pair evaluation, counted from the numpy code
#: in ``operators/kernels.py`` (rint counted as one flop):
#: orthorhombic = 3 sub + 12 MIC (div, rint, mul, sub per axis)
#: + 5 dot + 1 sqrt; triclinic = 3 sub + 24 deskew + 5 initial norm
#: + 26 images x 24 + 6 norm and sqrt.
FLOPS_PER_PAIR = {True: 21, False: 662}
#: Bytes per pair evaluation from array sizes: two gathered float32
#: xyz triples in, one float32 distance out.
BYTES_PER_PAIR = 2 * 3 * 4 + 4


def kernel_baseline(xyz, pairs, box, ortho, repeats: int = 5) -> dict[str, float]:
    """Single-thread kernel baseline: ``kernels.distances_np`` called
    directly on the driver on one frame block; median of ``repeats``."""
    from dask_traj_spark.operators import kernels

    pi = np.ascontiguousarray(pairs[:, 0])
    pj = np.ascontiguousarray(pairs[:, 1])
    times = [
        _timed(lambda: kernels.distances_np(xyz, pi, pj, box, ortho))
        for _ in range(repeats)
    ]
    t = statistics.median(times)
    evals = xyz.shape[0] * len(pairs)
    return {
        "kernels.distances_s": t,
        "kernels.pair_evals_per_s": evals / t,
        "kernels.flops_computed": float(evals * FLOPS_PER_PAIR[bool(ortho.all())]),
        "kernels.bytes_computed": float(evals * BYTES_PER_PAIR),
    }


class Workload:
    """Base: subclasses set ``name`` and ``items_per_pass`` and
    implement ``setup``, ``run_pass``, ``check`` and ``probes``."""

    name = ""
    #: Rows entering the vectorized distance feed before its atom
    #: filter, and pair evaluations it performs (0: no such op).
    feed_rows = 0
    vector_pair_evals = 0

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.rng = np.random.default_rng(seed)

    def pass_rng(self, pass_no: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, pass_no])

    def probes(self, by_owner: dict) -> dict[str, float]:
        """Untimed layer measurements of a traced run; ``by_owner`` holds
        the last traced pass's plan counters per enclosing span."""
        return {}


# ------------------------------------------------------------- canonical

CANON_FRAMES = 250
CANON_ATOMS = 22561
CANON_SEL = 500
CANON_BOX = 2.0
CANON_FRAMES_PER_PARTITION = 20
CANON_PAIRS = np.array(list(itertools.combinations(range(CANON_SEL), 2)))  # 124,750


class CanonicalDistances(Workload):
    """BASELINE.md shape (22,561 atoms, ``combinations(range(500), 2)``,
    orthorhombic 2.0 nm box) at 250 of the paper's 1,251 frames, so
    that several warm passes fit in one run.  Coordinates are hashed
    JVM-side from the seed, frame-contiguous (``packed=True``)."""

    name = "canonical_distances"
    items_per_pass = CANON_FRAMES * len(CANON_PAIRS)
    feed_rows = CANON_FRAMES * CANON_ATOMS
    vector_pair_evals = items_per_pass

    def setup(self) -> None:
        self.salt = int(self.rng.integers(1, 2**31 - 3))

    def _traj(self, frames=None):
        from pyspark.sql import functions as F

        from dask_traj_spark.trajectory import Trajectory

        gid = F.col("frame_id") * CANON_ATOMS + F.col("atom_id")

        def grid(k):
            h = F.xxhash64(gid, F.lit(self.salt + k))
            return (F.pmod(h, F.lit(4096)) / 4096.0 * CANON_BOX).cast("float")

        n_parts = max(4, CANON_FRAMES // CANON_FRAMES_PER_PARTITION)
        fr = self.spark.range(CANON_FRAMES, numPartitions=n_parts).withColumnRenamed(
            "id", "frame_id"
        )
        if frames is not None:
            fr = fr.where(F.col("frame_id").isin([int(f) for f in frames]))
        coords = fr.select(
            "frame_id",
            F.explode(F.sequence(F.lit(0), F.lit(CANON_ATOMS - 1))).alias("atom_id"),
        ).select(
            "frame_id",
            F.col("atom_id").cast("int").alias("atom_id"),
            grid(0).alias("x"),
            grid(1).alias("y"),
            grid(2).alias("z"),
        )
        L = CANON_BOX
        cell = {
            "a": L, "b": L, "c": L, "alpha": 90.0, "beta": 90.0, "gamma": 90.0,
            "ax": L, "ay": 0.0, "az": 0.0, "bx": 0.0, "by": L, "bz": 0.0,
            "cx": 0.0, "cy": 0.0, "cz": L,
        }
        uc = fr.select(
            "frame_id", *[F.lit(v).cast("float").alias(k) for k, v in cell.items()]
        )
        return Trajectory(coords, unitcell=uc, packed=True)

    def sample_frame(self, pass_no: int) -> int:
        return int(self.pass_rng(pass_no).integers(CANON_FRAMES))

    def run_pass(self, tr):
        """Every frame is computed; the rows of one seeded sample frame
        are kept for the check (the filter cannot move below the
        Python UDF), the rest are discarded JVM-side."""
        from pyspark.sql import functions as F

        from dask_traj_spark import compute_distances

        traj = self._traj()
        with tr.span("distance.vectorized"):
            d = compute_distances(
                traj, CANON_PAIRS, periodic=True, form="vectorized",
                n_atoms=CANON_ATOMS,
            )
            frame = F.col("frame_id") == self.sample_frame(tr.pass_no)
            return tr.collect(d.where(frame))

    def _frames_xyz(self, frames) -> np.ndarray:
        from pyspark.sql import functions as F

        pdf = (
            self._traj(frames).coords.where(F.col("atom_id") < CANON_SEL)
            .toPandas().sort_values(["frame_id", "atom_id"])
        )
        return pdf[["x", "y", "z"]].to_numpy(np.float32).reshape(len(frames), CANON_SEL, 3)

    def check(self, out, pass_no: int) -> None:
        from tests import golden

        frame = self.sample_frame(pass_no)
        _require(len(out) == len(CANON_PAIRS), f"frame {frame}: {len(out)} rows")
        got = out.sort_values("pair_id")["dist"].to_numpy()
        want = golden.distances(
            self._frames_xyz([frame]), CANON_PAIRS, np.eye(3) * CANON_BOX
        )[0]
        _close(got, want, 1e-5, f"canonical distances, frame {frame}")

    def probes(self, by_owner: dict) -> dict[str, float]:
        block = 20  # frames: one Arrow batch holds ~131 of them
        xyz = self._frames_xyz(list(range(block)))
        box = np.tile(np.eye(3, dtype=np.float32) * CANON_BOX, (block, 1, 1))
        out = kernel_baseline(xyz, CANON_PAIRS, box, np.ones(block, dtype=bool))
        out["trajectory.pack_s"] = pack_seconds(self._traj())
        return out


# ---------------------------------------------- shared trajectory shape

#: FIXTURES.md ``traj_small``: 2,722 atoms in a 6.8555 nm triclinic
#: 60/60/90 box, per-atom random walk with N(0, 0.02) nm steps.
SMALL_ATOMS = 2722
SMALL_BOX = 6.8555
SMALL_ANGLES = (60.0, 60.0, 90.0)
ELEMENTS = [("H", 1.008), ("C", 12.011), ("N", 14.007), ("O", 15.999), ("S", 32.06)]


def random_walk(rng, n_frames: int) -> np.ndarray:
    start = rng.uniform(0, SMALL_BOX, size=(1, SMALL_ATOMS, 3))
    steps = rng.normal(0, 0.02, size=(n_frames - 1, SMALL_ATOMS, 3))
    return np.concatenate([start, start + np.cumsum(steps, axis=0)]).astype(np.float32)


def small_box() -> np.ndarray:
    from tests import golden

    return golden.box_vectors_from_lengths_angles(
        SMALL_BOX, SMALL_BOX, SMALL_BOX, *SMALL_ANGLES
    )


def write_tables(directory: str, xyz, elements, bucket_frames: int) -> int:
    """Write a trajectory in the layout ``save_tables(...,
    bucket_frames=N)`` produces, straight from numpy with pyarrow, so
    input generation runs no Spark job.  Returns the number of coords
    files written."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    n_frames, n_atoms, _ = xyz.shape
    f32 = lambda a: pa.array(np.asarray(a, dtype=np.float32))  # noqa: E731
    coords_dir = os.path.join(directory, "coords.parquet")
    for lo in range(0, n_frames, bucket_frames):
        block = xyz[lo:lo + bucket_frames]
        part = os.path.join(coords_dir, f"frame_bucket={lo // bucket_frames}")
        os.makedirs(part)
        pq.write_table(
            pa.table({
                "frame_id": pa.array(np.repeat(np.arange(lo, lo + len(block)), n_atoms)),
                "atom_id": pa.array(np.tile(np.arange(n_atoms, dtype=np.int32), len(block))),
                "x": f32(block[..., 0].ravel()),
                "y": f32(block[..., 1].ravel()),
                "z": f32(block[..., 2].ravel()),
            }),
            os.path.join(part, "part-00000.parquet"),
        )
    frame_ids = pa.array(np.arange(n_frames, dtype=np.int64))
    ones = np.ones(n_frames)
    cell = {"frame_id": frame_ids}
    for k, v in zip(("a", "b", "c", "alpha", "beta", "gamma"),
                    (SMALL_BOX,) * 3 + SMALL_ANGLES):
        cell[k] = f32(v * ones)
    for r, row in enumerate(small_box()):
        for c, v in enumerate(row):
            cell["abc"[r] + "xyz"[c]] = f32(v * ones)
    tables = {
        "frames": {
            "frame_id": frame_ids,
            "time": pa.array(np.arange(n_frames) * 1000.0),
            "step": frame_ids,
        },
        "unitcell": cell,
        "topology": {
            "atom_id": pa.array(np.arange(n_atoms, dtype=np.int32)),
            "name": pa.array([ELEMENTS[e][0] for e in elements]),
            "element": pa.array([ELEMENTS[e][0] for e in elements]),
            "mass": pa.array([ELEMENTS[e][1] for e in elements]),
            "residue_id": pa.array(np.arange(n_atoms, dtype=np.int32) // 4),
            "residue_name": pa.array(["ALA"] * n_atoms),
            "chain_id": pa.array(np.zeros(n_atoms, dtype=np.int32)),
        },
    }
    for name, cols in tables.items():
        os.makedirs(os.path.join(directory, f"{name}.parquet"))
        pq.write_table(
            pa.table(cols), os.path.join(directory, f"{name}.parquet", "part-00000.parquet")
        )
    with open(os.path.join(directory, "_traj_meta.json"), "w") as fh:
        json.dump({"bucket_frames": bucket_frames}, fh)
    return -(-n_frames // bucket_frames)


# -------------------------------------------------------- geometry suite

GEO_FRAMES = 40
GEO_BUCKET_FRAMES = 10
GEO_RANGE = (10, 20)  # one whole bucket
GEO_PAIRS = np.array(list(itertools.combinations(range(10), 2)))  # 45
GEO_TRIPLETS = np.array(list(itertools.combinations(range(10), 3)))  # 120
GEO_GROUPS = (list(range(10)), list(range(10, 20)))
GEO_WIDE_PAIRS = np.array(list(itertools.combinations(range(200), 2)))  # 19,900


class GeometrySuite(Workload):
    """The reference tests' operations and index sets on a triclinic,
    frame-bucketed Parquet trajectory with topology masses, loaded
    with ``load_tables`` (an unpacked feed)."""

    name = "geometry_suite"
    items_per_pass = GEO_FRAMES
    feed_rows = GEO_FRAMES * SMALL_ATOMS
    vector_pair_evals = GEO_FRAMES * len(GEO_WIDE_PAIRS)

    def setup(self) -> None:
        self.xyz = random_walk(self.rng, GEO_FRAMES)
        elements = self.rng.integers(len(ELEMENTS), size=SMALL_ATOMS)
        self.masses = np.array([ELEMENTS[e][1] for e in elements])
        self.dir = os.path.join(self.workdir, "geometry")
        self.coords_files = write_tables(self.dir, self.xyz, elements, GEO_BUCKET_FRAMES)
        self.oracle = None

    def run_pass(self, tr):
        from dask_traj_spark import (
            compute_angles, compute_center_of_geometry,
            compute_center_of_mass, compute_displacements, compute_distances,
            find_closest_contact, load_frame_range, load_tables,
        )

        out = {}

        def op(span, key, build):
            with tr.span(span):
                out[key] = tr.collect(build())

        with tr.span("sources.load_tables"):
            traj = load_tables(self.spark, self.dir)
        with tr.span("trajectory.dims"):
            traj.n_atoms
        op("sql.distances", "dist", lambda: compute_distances(traj, GEO_PAIRS, form="sql"))
        op("sql.displacements", "disp",
           lambda: compute_displacements(traj, GEO_PAIRS, form="sql"))
        op("sql.angles", "angles", lambda: compute_angles(traj, GEO_TRIPLETS, form="sql"))
        op("agg.com", "com", lambda: compute_center_of_mass(traj))
        op("agg.cog", "cog", lambda: compute_center_of_geometry(traj))
        op("agg.closest_contact", "contact",
           lambda: find_closest_contact(traj, *GEO_GROUPS))
        op("distance.vectorized", "wide", lambda: compute_distances(traj, GEO_WIDE_PAIRS))
        op("sources.frame_range", "range",
           lambda: load_frame_range(self.spark, self.dir, *GEO_RANGE).coords)
        return out

    def _oracle(self) -> dict:
        from tests import golden

        box = small_box()
        xyz = self.xyz
        return {
            "dist": golden.distances(xyz, GEO_PAIRS, box),
            "disp": golden.displacements(xyz, GEO_PAIRS, box),
            "angles": golden.angles(xyz, GEO_TRIPLETS, box),
            "com": golden.center_of_mass(xyz, self.masses),
            "cog": golden.center_of_geometry(xyz),
            "contact": golden.closest_contact(xyz, *GEO_GROUPS, box=box),
            "wide": golden.distances(xyz, GEO_WIDE_PAIRS, box),
        }

    def check(self, out, pass_no: int) -> None:
        if self.oracle is None:
            self.oracle = self._oracle()
        want = self.oracle
        n = GEO_FRAMES

        def grid(df, key, cols, n_keys):
            """(frame, key)-sorted long rows -> (frames, keys, cols)."""
            _require(len(df) == n * n_keys, f"{key}: {len(df)} rows")
            df = df.sort_values(["frame_id", key])
            return df[cols].to_numpy().reshape(n, n_keys, len(cols))

        _close(grid(out["dist"], "pair_id", ["dist"], len(GEO_PAIRS))[..., 0],
               want["dist"], 1e-5, "SQL distances")
        _close(grid(out["disp"], "pair_id", ["dx", "dy", "dz"], len(GEO_PAIRS)),
               want["disp"], 1e-5, "SQL displacements")
        _close(grid(out["angles"], "triplet_id", ["angle_rad"], len(GEO_TRIPLETS))[..., 0],
               want["angles"], 1e-5, "SQL angles")
        for key, what in (("com", "center of mass"), ("cog", "center of geometry")):
            df = out[key].sort_values("frame_id")
            _close(df[["x", "y", "z"]].to_numpy(), want[key], 1e-5, what)
        c = out["contact"].sort_values("frame_id")
        exp = np.array(want["contact"], dtype=np.float64)
        _require(
            (c["i"].to_numpy() == exp[:, 1]).all() and (c["j"].to_numpy() == exp[:, 2]).all(),
            "closest-contact atom pairs",
        )
        _close(c["dist"].to_numpy(), exp[:, 3], 1e-5, "closest-contact distances")
        _close(grid(out["wide"], "pair_id", ["dist"], len(GEO_WIDE_PAIRS))[..., 0],
               want["wide"], 1e-5, "vectorized distances")
        lo, hi = GEO_RANGE
        r = out["range"].sort_values(["frame_id", "atom_id"])
        _require(len(r) == (hi - lo) * SMALL_ATOMS, f"frame range: {len(r)} rows")
        _require(
            (r["frame_id"].to_numpy() == np.repeat(np.arange(lo, hi), SMALL_ATOMS)).all(),
            "frame-range frame ids",
        )
        # Parquet round-trips float32 exactly
        _close(r[["x", "y", "z"]].to_numpy().reshape(hi - lo, SMALL_ATOMS, 3),
               self.xyz[lo:hi], 0.0, "frame-range coordinates")

    def probes(self, by_owner: dict) -> dict[str, float]:
        from dask_traj_spark import load_tables

        sel = np.unique(GEO_WIDE_PAIRS)
        block = 20
        out = kernel_baseline(
            np.ascontiguousarray(self.xyz[:block][:, sel]),
            np.searchsorted(sel, GEO_WIDE_PAIRS),
            np.tile(small_box().astype(np.float32), (block, 1, 1)),
            np.zeros(block, dtype=bool),
        )
        traj = load_tables(self.spark, self.dir)
        out["trajectory.pack_s"] = pack_seconds(traj)
        out["sources.parquet_scan_s"] = _timed(lambda: _execute(traj.coords))
        read = by_owner.get("sources.frame_range", {}).get("scan_files", 0)
        out["sources.range_files_read_frac"] = read / self.coords_files
        return out


# -------------------------------------------------------- corpus neardup

CORPUS_DOCS = 1500
CORPUS_VOCAB = 20000
CORPUS_DOC_TOKENS = 80
CORPUS_EXACT_FRAC = 0.05
CORPUS_NEAR_FRAC = 0.10
CORPUS_NEAR_EDITS = 2
CORPUS_NEAR_MIN_JACCARD = 0.85
NEAR_THRESHOLD = 0.8
RECALL_FLOOR = 0.95


class CorpusNeardup(Workload):
    """Zipf-distributed synthetic documents with planted exact copies
    and near copies (a few token substitutions, token-set Jaccard
    >= 0.85, above the 0.8 threshold)."""

    name = "corpus_neardup"

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = self.rng
        vocab = np.array([f"w{i}" for i in range(CORPUS_VOCAB)])
        p = 1.0 / np.arange(1, CORPUS_VOCAB + 1)
        p /= p.sum()
        base = [
            list(vocab[rng.choice(CORPUS_VOCAB, CORPUS_DOC_TOKENS, p=p)])
            for _ in range(CORPUS_DOCS)
        ]
        docs = [" ".join(t) for t in base]
        exact, near = [], []  # (source position, copy position)
        for src in rng.choice(CORPUS_DOCS, int(CORPUS_DOCS * CORPUS_EXACT_FRAC), replace=False):
            exact.append((int(src), len(docs)))
            docs.append(docs[src])
        while len(near) < int(CORPUS_DOCS * CORPUS_NEAR_FRAC):
            src = int(rng.integers(CORPUS_DOCS))
            toks = list(base[src])
            for k in rng.choice(CORPUS_DOC_TOKENS, CORPUS_NEAR_EDITS, replace=False):
                toks[k] = vocab[rng.integers(CORPUS_VOCAB)]
            a, b = set(base[src]), set(toks)
            if len(a & b) / len(a | b) >= CORPUS_NEAR_MIN_JACCARD:
                near.append((src, len(docs)))
                docs.append(" ".join(toks))
        # doc ids are a seeded permutation, so copies are not adjacent
        ids = rng.permutation(len(docs)).astype(np.int64)
        self.exact = [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in exact]
        self.near = [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in near]
        self.items_per_pass = len(docs)
        self.facts: dict[str, float] = {}
        self.path = os.path.join(self.workdir, "corpus.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": docs}), self.path)

    def run_pass(self, tr):
        from dask_traj_spark.operators.dedup import (
            exact_duplicates, near_duplicates_minhash,
        )
        from dask_traj_spark.session import release_caches

        docs = self.spark.read.parquet(self.path)
        with tr.span("dedup.exact"):
            exact = tr.collect(exact_duplicates(docs))
        with tr.span("dedup.minhash"):
            near = tr.collect(near_duplicates_minhash(docs, threshold=NEAR_THRESHOLD))
            release_caches()
        return exact, near

    def check(self, out, pass_no: int) -> None:
        exact, near = out
        found = set(zip(near["doc1"].astype(int), near["doc2"].astype(int)))
        recall = sum(p in found for p in self.near) / len(self.near)
        self.facts = {"dedup.planted_recall": recall, "verified_pairs": float(len(near))}
        # keep_id is the smallest doc id of an exact group
        groups = {int(k): int(n) for k, n in zip(exact["keep_id"], exact["n"])}
        missing = [p for p in self.exact if groups.get(p[0], 0) < 2]
        _require(not missing, f"{len(missing)} planted exact copies not grouped")
        _require(
            sum(int(n) for n in exact["n"]) == self.items_per_pass,
            "exact groups do not partition the corpus",
        )
        _require((near["jaccard"] >= NEAR_THRESHOLD).all(), "pair below threshold")
        _require(recall >= RECALL_FLOOR, f"near-copy recall {recall:.3f} < {RECALL_FLOOR}")

    def probes(self, by_owner: dict) -> dict[str, float]:
        from dask_traj_spark.operators.dedup import lsh_candidate_pairs

        docs = self.spark.read.parquet(self.path)
        cand = lsh_candidate_pairs(docs).count()
        verified = self.facts.get("verified_pairs", 0.0)
        return {
            "dedup.candidates": float(cand),
            "dedup.candidate_precision": verified / cand if cand else 0.0,
            "dedup.planted_recall": self.facts.get("dedup.planted_recall", 0.0),
        }


WORKLOADS = {w.name: w for w in (CanonicalDistances, GeometrySuite, CorpusNeardup)}
