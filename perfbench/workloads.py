"""The two benchmark workloads.

Each workload builds its inputs in ``setup``, runs one closed-loop pass in
``run_pass`` (a fresh DataFrame lineage every time, so no shuffle output is
reused), checks one pass's outputs against DuckDB in ``check`` (never
inside a timed pass), and runs a ``traced_pass`` that times every layer
prefix for the per-layer report.

A pass returns a digest of its outputs: row count, a sum and an xor of
per-row ``xxhash64`` values, computed by Spark as the pass's final action.
``check`` collects the outputs it verifies and digests exactly those rows,
so a timed pass whose digest differs from the checked one produced
different rows.
"""

from __future__ import annotations

import functools
import os
import random
import time

import duckdb
from pyspark.sql import DataFrame, SparkSession, functions as F

from fast_carpenter_spark import grid, synth
from fast_carpenter_spark.checkpoint import CheckpointedRun
from fast_carpenter_spark.expressions import compile_expression
from fast_carpenter_spark.operators.binned import BinnedDataframeStage
from fast_carpenter_spark.operators.selection import (
    CutFlowStage,
    compile_tree,
    oracle_counters_sql,
    parse_selection,
)
from fast_carpenter_spark.queries import CUTFLOW_SELECTION, CUTFLOW_WEIGHTS, REGION_RES
from fast_carpenter_spark.sources.snapshot import SnapshotReader, write_snapshot
from fast_carpenter_spark.spatial.join import SpatialJoinStage, polygon_covers_local
from fast_carpenter_spark.spatial.knn import (
    auto_res,
    haversine_sql,
    knn_geo_local,
    knn_geo_oracle_sql,
    knn_local,
    knn_oracle_sql,
)
from fast_carpenter_spark.spatial.pip import pip_oracle_sql

import inputs
from tracing import Tracer

KNN_K = 3
KNN_RING = 1
GEO_RADIUS_KM = 5.0


class CheckFailed(Exception):
    """A workload's output differs from its oracle."""


def digest(df: DataFrame) -> tuple:
    """(rows, sum of 31-bit row hashes, xor of row hashes) of ``df``."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.pmod(h, F.lit(2147483647))), F.bit_xor(h)
    ).first()
    return (int(row[0]), int(row[1] or 0), int(row[2] or 0))


def sink(df: DataFrame) -> None:
    """Run ``df`` to the end without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def checked_rows(df: DataFrame, keep=None):
    """(digest, pandas rows) of ONE execution of ``df``: the output is cached,
    digested, and the rows to verify (``keep``, default all) are collected
    from that same cache."""
    cached = df.cache()
    try:
        d = digest(cached)
        rows = (cached if keep is None else cached.filter(keep)).toPandas()
    finally:
        cached.unpersist()
    return d, rows


def _same_rows(name: str, got, want, cols: list[str]) -> None:
    """Exact comparison of two pandas frames on ``cols``, order-free."""
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    if len(g) != len(w):
        raise CheckFailed(f"{name}: {len(g)} rows, oracle has {len(w)}")
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            bad = (a.astype(float) != b.astype(float)).sum()
        else:
            bad = (a.astype(str) != b.astype(str)).sum()
        if bad:
            raise CheckFailed(f"{name}: column {c} differs in {bad} rows")


class Workload:
    """Shared set-up: the seeded documents table as parquet."""

    name = ""
    replicas = 1

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.docs_path = os.path.join(work_dir, "documents.parquet")
        self.n_docs = 0
        self.duck = None

    def setup(self) -> None:
        parts = 4 * self.spark.sparkContext.defaultParallelism
        docs = inputs.build_documents(
            self.spark, self.docs_path, replicas=self.replicas, seed=self.seed, partitions=parts
        )
        self.n_docs = docs.count()

    def spans(self) -> DataFrame:
        """Fresh span lineage over the documents files (``synth``)."""
        self.spark.read.parquet(self.docs_path).createOrReplaceTempView("documents")
        return self.spark.sql(synth.flat_spans_sql("spark"))

    def ops_per_pass(self) -> int:
        return 1

    def failed_ops(self, got, checked) -> int:
        """Operations of one pass whose output differs from the checked one
        (a pass that raised has ``got`` None)."""
        if got is None:
            return self.ops_per_pass()
        if checked is None:
            return 0  # the check itself failed; the run is already incorrect
        return 0 if got == checked else self.ops_per_pass()

    def duckdb(self):
        """DuckDB connection with a ``spans`` table that DuckDB derives with
        its own SQL from the same documents files (only the columns the
        checks read)."""
        if self.duck is None:
            con = duckdb.connect()
            con.execute("SET threads TO 4")
            con.execute("SET preserve_insertion_order = false")
            con.execute(f"SET temp_directory = '{os.path.join(self.work_dir, 'duckdb')}'")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.docs_path}/*.parquet')"
            )
            con.execute(
                "CREATE TABLE spans AS SELECT doc_id, span_idx, span_offset, kind, lon, lat, "
                f"w, n_chars FROM ({synth.flat_spans_sql('duck')})"
            )
            self.duck = con
        return self.duck

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
            self.duck = None


# ---------------------------------------------------------------------------
# spatial_scan: q1, q3, q4 and q7, read-only, one pass runs all four
# ---------------------------------------------------------------------------


class SpatialScan(Workload):
    """q1 (synth -> grid -> spatial.join -> operators.binned) and q3
    (operators.selection counters) over every span; q4 planar ``knn_local``
    and q7 geodesic ``knn_geo_local`` over every document's representative
    point, including the 1% point mass (doc_id % 100 = 0) that triggers
    hot-block salting."""

    name = "spatial_scan"
    replicas = 16
    sample_cells = 96
    sample_points = 64
    sample_hot = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.polys = synth.polygons()
        self.selection = CutFlowStage(
            name="cf", selection=CUTFLOW_SELECTION, weights=CUTFLOW_WEIGHTS
        )

    def points(self) -> DataFrame:
        return self.spans().filter("span_idx = 0").select("doc_id", "lon", "lat")

    def q1(self, spans: DataFrame) -> DataFrame:
        joined = (
            SpatialJoinStage(name="sj", polygons=self.polys).apply(spans)
            .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
            .withColumn("pw", F.col("w") * F.col("weight"))
        )
        return BinnedDataframeStage(
            name="tiles", binning=[{"in": "region"}, {"in": "cell"}], weights={"pw": "pw"}
        ).apply(joined)

    def q3(self, spans: DataFrame) -> DataFrame:
        return self.selection.counters(spans)

    def q4(self, pts: DataFrame) -> DataFrame:
        return knn_local(pts, res=auto_res(self.n_docs), ring=KNN_RING, k=KNN_K)

    def q7(self, pts: DataFrame) -> DataFrame:
        return knn_geo_local(pts, radius_km=GEO_RADIUS_KM, k=KNN_K, n_points=self.n_docs)

    def run_pass(self):
        return (
            digest(self.q1(self.spans())),
            digest(self.q3(self.spans())),
            digest(self.q4(self.points())),
            digest(self.q7(self.points())),
        )

    def checked_pass(self):
        """One pass whose outputs are kept for ``verify``: q1 and q3 in
        full, q4 and q7 for a seeded uniform sample of query points plus a
        few from the point mass, so the salted hot block is always checked."""
        rng = random.Random(self.seed)
        ids = inputs.doc_ids(self.replicas, self.seed)
        sample = sorted(
            rng.sample([i for i in ids if i % 100], self.sample_points)
            + rng.sample([i for i in ids if i % 100 == 0], self.sample_hot)
        )
        keep = F.col("doc_id").isin(sample)
        d1, got1 = checked_rows(self.q1(self.spans()))
        d3, got3 = checked_rows(self.q3(self.spans()))
        d4, got4 = checked_rows(self.q4(self.points()), keep)
        d7, got7 = checked_rows(self.q7(self.points()), keep)
        return (d1, d3, d4, d7), (got1, got3, sample, got4, got7)

    def verify(self, evidence) -> None:
        """q1 on a seeded uniform sample of REGION_RES cells against the PIP
        oracle plus a DuckDB binned sum; q3 in full against the counters
        oracle; q4 and q7 for the sampled query points against the
        brute-force kNN oracles."""
        got1, got3, sample, got4, got7 = evidence
        con = self.duckdb()

        rng = random.Random(self.seed)
        n = 1 << REGION_RES
        cells = sorted(
            (REGION_RES << grid.RES_SHIFT) + (x << grid.XY_BITS) + y
            for x, y in (divmod(i, n) for i in rng.sample(range(n * n), self.sample_cells))
        )
        cell_duck = grid.cell_sql("lon", "lat", REGION_RES, "duck")
        in_list = ", ".join(str(c) for c in cells)
        pts = f"SELECT * FROM spans WHERE {cell_duck} IN ({in_list})"
        pairs = pip_oracle_sql(
            pts, synth.polygons_values_sql("duck"),
            point_keys="doc_id, span_offset, lon, lat, w", extra_poly_cols="region, weight",
        )
        want1 = con.execute(
            f"SELECT region, {cell_duck} AS cell, count(*) AS n, sum(w * weight) AS pw_sumw, "
            f"sum((w * weight) * (w * weight)) AS pw_sumw2 FROM ({pairs}) GROUP BY 1, 2"
        ).fetchdf()
        cols = ["region", "cell", "n", "pw_sumw", "pw_sumw2"]
        _same_rows("q1 sampled cells", got1[got1["cell"].isin(cells)], want1, cols)
        if len(want1) == 0:
            raise CheckFailed("q1 sample holds no matched cells")

        _, specs = compile_tree(
            parse_selection(CUTFLOW_SELECTION), lambda node: compile_expression(node.config)
        )
        want3 = con.execute(
            oracle_counters_sql(specs, "SELECT * FROM spans", CUTFLOW_WEIGHTS)
        ).fetchdf()
        _same_rows("q3 counters", got3, want3,
                   ["cut_id", "depth", "cut", "count_type", "weight_name", "value"])

        con.execute("CREATE OR REPLACE TABLE kpts AS "
                    "SELECT doc_id, lon, lat FROM spans WHERE span_idx = 0")
        con.execute("CREATE OR REPLACE TABLE kq AS SELECT * FROM kpts WHERE doc_id IN ("
                    + ", ".join(map(str, sample)) + ")")
        # q4: every candidate of a sampled query lies within KNN_RING cells
        # of it, so the oracle over that neighbourhood is exact for it
        res = auto_res(self.n_docs)
        cx = grid.cell_x_sql("{t}.lon", res, "duck")
        cy = grid.cell_y_sql("{t}.lat", res, "duck")
        near = (
            "SELECT DISTINCT p.doc_id, p.lon, p.lat FROM kpts p, kq q "
            f"WHERE abs({cx.format(t='p')} - {cx.format(t='q')}) <= {KNN_RING} "
            f"AND abs({cy.format(t='p')} - {cy.format(t='q')}) <= {KNN_RING}"
        )
        want4 = con.execute(
            f"SELECT * FROM ({knn_oracle_sql(near, res=res, ring=KNN_RING, k=KNN_K)}) "
            "WHERE doc_id IN (SELECT doc_id FROM kq)"
        ).fetchdf()
        _same_rows("q4 sampled queries", got4, want4,
                   ["doc_id", "neighbor_id", "rank", "dist2"])
        # q7: all neighbours of a sampled query are within the radius of it
        # (a 1% margin keeps boundary rounding inside the candidate set)
        near7 = (
            "SELECT DISTINCT a.doc_id, a.lon, a.lat FROM kpts a, kq b WHERE "
            f"{haversine_sql('a.lon', 'a.lat', 'b.lon', 'b.lat')} <= {GEO_RADIUS_KM * 1.01!r}"
        )
        want7 = con.execute(
            f"SELECT * FROM ({knn_geo_oracle_sql(near7, radius_km=GEO_RADIUS_KM, k=KNN_K)}) "
            "WHERE doc_id IN (SELECT doc_id FROM kq)"
        ).fetchdf()
        _same_rows("q7 sampled queries", got7, want7, ["doc_id", "neighbor_id", "rank"])
        if len(want4) == 0 or len(want7) == 0:
            raise CheckFailed("kNN sample holds no neighbours")

    def traced_pass(self, tr: Tracer):
        t0 = time.perf_counter()
        covers, cover_res = polygon_covers_local(self.polys)
        tr.count("spatial.join.covers_s", time.perf_counter() - t0)
        tr.count("spatial.join.cover_cells", len(covers))

        # q1 as prefix spans: synth -> grid -> spatial.join -> operators.binned
        binned = tr.open("operators.binned")
        join = tr.open("spatial.join", binned)
        cells = tr.open("grid", join)
        with tr.timed(tr.open("synth", cells)):
            sink(self.spans().select("lon", "lat", "w"))
        with tr.timed(cells):
            sink(
                self.spans().select("lon", "lat", "w")
                .withColumn("_cell", F.expr(grid.cell_sql("lon", "lat", cover_res[0], "spark")))
                .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
            )
        with tr.timed(join):
            sink(
                SpatialJoinStage(name="sj", polygons=self.polys).apply(self.spans())
                .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
                .select("region", "cell", "w", "weight")
            )
        with tr.timed(binned, blocking=True):
            d1 = digest(self.q1(self.spans()))
        tr.count("operators.binned.groups", d1[0])

        # q3 as prefix spans: synth -> operators.selection
        sel = tr.open("operators.selection")
        with tr.timed(tr.open("synth", sel)):
            sink(self.spans().select("n_chars", "kind", "lon", "w"))
        with tr.timed(sel, blocking=True):
            d3 = digest(self.q3(self.spans()))
        tr.count("operators.selection.cuts", len(self.selection.compile(self.spans())[1]))

        # q4 and q7 as prefix spans: synth -> spatial.knn
        out = [d1, d3]
        for query in (self.q4, self.q7):
            knn = tr.open("spatial.knn")
            with tr.timed(tr.open("synth", knn)):
                sink(self.points())
            with tr.timed(knn, blocking=True):
                out.append(digest(query(self.points())))
        tr.count("spatial.knn.points", 2 * self.n_docs)
        return tuple(out)


# ---------------------------------------------------------------------------
# ingest_resume: snapshot commits, an interrupted + resumed checkpointed
# run, and point / range lookups
# ---------------------------------------------------------------------------

SPAN_COLS = ["doc_id", "span_idx", "kind", "lon", "lat", "w", "n_chars"]
LOOKUP_RES = 8


class IngestResume(Workload):
    name = "ingest_resume"
    replicas = 16
    commits = 2
    files_per_commit = 4
    files_per_unit = 2
    point_lookups = 4
    range_lookups = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.passes = 0
        self.lookup_s: list[float] = []
        self.stored_bytes = 0
        self.input_bytes = 0

    def setup(self) -> None:
        super().setup()
        self.input_bytes = _tree_bytes(self.docs_path)
        rng = random.Random(self.seed)
        off = inputs.seed_offset(self.seed)
        present = [
            inputs.REPLICA_STRIDE * rng.randrange(self.replicas) + rng.randrange(inputs.BASE_DOCS) + off
            for _ in range(self.point_lookups // 2)
        ]
        absent = [-1 - rng.randrange(10**9) for _ in range(self.point_lookups - len(present))]
        self.point_ids = present + absent
        n = 1 << LOOKUP_RES
        self.ranges = []
        for _ in range(self.range_lookups):
            x, y = rng.randrange(n), rng.randrange(n - 16)
            lo = (LOOKUP_RES << grid.RES_SHIFT) + (x << grid.XY_BITS) + y
            self.ranges.append((lo, lo + 15))

    def ops_per_pass(self) -> int:
        return 1 + self.point_lookups + self.range_lookups

    def failed_ops(self, got, checked) -> int:
        """The finalize and each lookup count as one operation."""
        if got is None:
            return self.ops_per_pass()
        if checked is None:
            return 0
        return sum(g != c for g, c in zip(got, checked))

    def source(self, part: int) -> DataFrame:
        cell = grid.cell_sql("lon", "lat", LOOKUP_RES, "spark")
        return (
            self.spans().filter(f"pmod(doc_id, {self.commits}) = {part}")
            .select(*SPAN_COLS, F.expr(cell).alias("cell"))
            .repartitionByRange(self.files_per_commit, "cell")
        )

    @staticmethod
    def unit_job(df_unit: DataFrame):
        partial = BinnedDataframeStage(
            name="unit",
            binning=[{"in": "kind"}, {"in": "lat", "bins": {"nbins": 18, "low": -90, "high": 90}}],
            weights={"w": "w"},
        ).apply(df_unit)
        return partial, {"units": 1}

    def _dirs(self):
        """A fresh table and run directory per pass; all are kept until the
        run's scratch directory is removed, so the check can reuse the last."""
        base = os.path.join(self.work_dir, f"ingest-{self.passes}")
        self.passes += 1
        return os.path.join(base, "table"), os.path.join(base, "run")

    def _run(self, reader, run_dir):
        return CheckpointedRun.from_snapshot(
            run_dir, reader, self.unit_job, files_per_unit=self.files_per_unit
        )

    def _lookups(self, reader):
        """(prune, load) per lookup: bloom point lookups, then cell-range
        lookups.  ``load`` plans, prunes and reads on its own; ``prune`` is
        its manifest step alone, which only the traced pass calls."""
        out = []
        for v in self.point_ids:
            out.append((
                functools.partial(reader.prune_bloom, "doc_id", [v]),
                lambda v=v: reader.load_bloom(self.spark, "doc_id", [v]).filter(
                    F.col("doc_id") == v),
            ))
        for lo, hi in self.ranges:
            out.append((
                functools.partial(reader.prune, "cell", lo, hi),
                lambda lo=lo, hi=hi: reader.load(self.spark, col="cell", lo=lo, hi=hi).filter(
                    F.col("cell").between(lo, hi)),
            ))
        return out

    def _ingest(self):
        """Commits, then the checkpointed run: stopped halfway, its last
        ledger line torn, resumed.  Returns the reader and run directory."""
        table, run_dir = self._dirs()
        base = None
        for part in range(self.commits):
            base = write_snapshot(self.source(part), table, bounds_cols=["cell"],
                                  bloom_cols=["doc_id"], base=base)
        reader = SnapshotReader(table)
        run = self._run(reader, run_dir)
        run.execute(self.spark, max_units=len(run.units) // 2)
        _tear_last_line(run.ledger_path)
        self._run(reader, run_dir).execute(self.spark)
        return reader, run_dir

    def run_pass(self):
        reader, run_dir = self._ingest()
        digests = [digest(self._run(reader, run_dir).finalize(self.spark)[0])]
        for _, load in self._lookups(reader):
            t0 = time.perf_counter()
            digests.append(digest(load()))
            self.lookup_s.append(time.perf_counter() - t0)
        return tuple(digests)

    def checked_pass(self):
        """One pass whose resumed result and lookups are kept for ``verify``,
        with an uninterrupted run over the same snapshot as the reference."""
        spark = self.spark
        reader, run_dir = self._ingest()
        d, got = checked_rows(self._run(reader, run_dir).finalize(spark)[0])
        whole = self._run(reader, run_dir + "-whole")
        whole.execute(spark)
        want = whole.finalize(spark)[0].toPandas()
        digests, looked = [d], []
        for _, load in self._lookups(reader):
            d, g = checked_rows(load())
            digests.append(d)
            looked.append(g)
        return tuple(digests), (got, want, looked)

    def verify(self, evidence) -> None:
        """Resumed result against the uninterrupted run; lookups against
        DuckDB filters over spans DuckDB derives itself from the documents."""
        got, want, looked = evidence
        _same_rows("finalize after resume vs uninterrupted run", got, want, list(got.columns))
        con = self.duckdb()
        cell = grid.cell_sql("lon", "lat", LOOKUP_RES, "duck")
        cols = SPAN_COLS + ["cell"]
        sel = ", ".join(SPAN_COLS) + f", {cell} AS cell"
        wheres = [f"doc_id = {v}" for v in self.point_ids] + [
            f"{cell} BETWEEN {lo} AND {hi}" for lo, hi in self.ranges]
        for g, where in zip(looked, wheres):
            w = con.execute(f"SELECT {sel} FROM spans WHERE {where}").fetchdf()
            _same_rows(f"lookup {where}", g, w, cols)
        if not any(len(g) for g in looked):
            raise CheckFailed("lookups returned no rows at all")

    def traced_pass(self, tr: Tracer):
        """The steps of ``run_pass`` as blocking spans (planning included),
        then the unit-job prefixes and the counters outside them."""
        table, run_dir = self._dirs()
        base = None
        for part in range(self.commits):
            with tr.timed(tr.open("sources.snapshot.commit"), blocking=True):
                base = write_snapshot(self.source(part), table, bounds_cols=["cell"],
                                      bloom_cols=["doc_id"], base=base)
        with tr.timed(tr.open("checkpoint.execute"), blocking=True):
            reader = SnapshotReader(table)
            run = self._run(reader, run_dir)
            half = len(run.units) // 2
            run.execute(self.spark, max_units=half)
        with tr.timed(tr.open("checkpoint.resume"), blocking=True):
            _tear_last_line(run.ledger_path)
            summary = self._run(reader, run_dir).execute(self.spark)
        with tr.timed(tr.open("checkpoint.finalize"), blocking=True):
            digests = [digest(self._run(reader, run_dir).finalize(self.spark)[0])]
        rows = 0
        for prune, load in self._lookups(reader):
            # the prune child repeats the manifest step ``load`` runs, so
            # the lookup's self time is its planning, scan and filter
            lookup = tr.open("sources.snapshot.lookup")
            with tr.timed(lookup, blocking=True):
                with tr.timed(tr.open("sources.snapshot.prune", lookup)):
                    files = prune()
                d = digest(load())
            tr.add("sources.snapshot.files_scanned", len(files))
            tr.add("sources.snapshot.files_total", len(reader.snapshot.files))
            digests.append(d)
            rows += d[0]

        tr.count("sources.snapshot.lookup_rows", rows)
        tr.count("sources.snapshot.files_written", len(reader.snapshot.files))
        tr.count("sources.snapshot.bytes_written", _tree_bytes(table, suffix=".parquet"))
        tr.count("sources.snapshot.manifest_bytes", _tree_bytes(table, suffix=".json"))
        self.stored_bytes = _tree_bytes(table)
        tr.count("checkpoint.units", len(run.units))
        tr.count("checkpoint.units_redone", len(summary["processed"]) - (len(run.units) - half))
        tr.count("checkpoint.partial_bytes", _tree_bytes(os.path.join(run_dir, "partials"),
                                                         suffix=".parquet"))
        tr.count("operators.binned.groups", digests[0][0])

        # prefixes of the unit jobs, outside the pass: scan, then binned partial
        for paths in run.units.values():
            binned = tr.open("operators.binned")
            with tr.timed(tr.open("sources.snapshot.scan", binned)):
                sink(self.spark.read.parquet(*paths))
            with tr.timed(binned):
                digest(self.unit_job(self.spark.read.parquet(*paths))[0])
        return tuple(digests)


def _tree_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix) and not fn.startswith("."):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def _tear_last_line(path: str) -> None:
    """Cut the ledger's last line in half, as a crash mid-append would."""
    with open(path, "rb") as f:
        data = f.read()
    body = data.rstrip(b"\n")
    start = body.rfind(b"\n") + 1
    with open(path, "wb") as f:
        f.write(data[: start + (len(body) - start) // 2])


WORKLOADS = {w.name: w for w in (SpatialScan, IngestResume)}
