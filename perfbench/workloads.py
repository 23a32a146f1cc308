"""The benchmark workloads. Each one prepares its seeded inputs and expected
outputs (untimed), sets up (timed as ``setup_s``), runs one operation at a
time in a closed loop, and, in the traced run, replays the package's layer
calls in-process for the per-layer numbers.

Every read registers a fresh view before its query. Reusing one view
across queries with different filters returns wrong rows (see README.md).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import check
import gen
import probes
from check import LONG, STRING, TIMESTAMP
from spans import Recorder

REF_COLUMNS = {"bbox": STRING, "collection": STRING, "date": TIMESTAMP}


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    rec: Recorder
    nproc: int
    probe: object = None  # probes.SparkProbe in the traced run
    meta_reads: object = None  # probes.MetadataReads in the traced run


@dataclass
class Op:
    kind: str
    key: str
    latency_s: float
    rows: int
    ok: bool
    #: traced operations only: status-store and Catalyst numbers, plus the
    #: wall time of the whole traced iteration (operation and probes)
    layer: dict = field(default_factory=dict)
    traced: bool = False


def _median(xs, default=0.0):
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


class Workload:
    name = ""
    #: the kinds of operation, run in turn; a round runs each once
    KINDS: tuple = ()
    stored_bytes_per_row = 0.0

    def prepare(self, ctx: Ctx) -> None:
        """Generate inputs and expected outputs (not timed)."""

    def setup(self, ctx: Ctx, rep: int) -> list[Op]:
        """Write the inputs through the package, open them and run the
        first operation (timed as set-up; repeated, the median is kept)."""
        raise NotImplementedError

    def warm(self, ctx: Ctx) -> list[Op]:
        """Run each kind of operation once before measuring (not timed)."""
        return [self.run_op(ctx, i, False) for i in range(len(self.KINDS))]

    def run_op(self, ctx: Ctx, i: int, traced: bool) -> Op:
        raise NotImplementedError

    def layer_metrics(self, ctx: Ctx, ops: list[Op]) -> dict:
        """Per-layer numbers for the traced run (replays go here); ``ops``
        holds every measured operation, traced ones carry ``layer``."""
        return {}

    def close(self, ctx: Ctx) -> None:
        pass


# ---------------------------------------------------------------------------
# reads: timed as a checksum aggregate over a fresh view
# ---------------------------------------------------------------------------


def _timed_read(ctx: Ctx, i: int, traced: bool, kind: str, key: str,
                table, view: str, inner: str, columns: dict, expected: tuple) -> Op:
    rec = ctx.rec
    group = ctx.probe.new_group(f"{kind}:{key}") if traced else None
    t0 = time.perf_counter()
    with rec.span("op", op=i):
        with rec.span("plans.build"):
            table.register(ctx.spark, view)
            df = ctx.spark.sql(check.checksum_sql(inner, columns))
        with rec.span("spark.execute"):
            got = tuple(df.collect()[0])
    lat = time.perf_counter() - t0
    op = Op(kind, key, lat, int(got[0]), got == expected)
    if traced:
        op.layer = _read_layer(ctx, df, group, lat, i)
        op.layer["scan_columns"] = probes.scanned_columns(df)
        op.layer["iteration_s"] = time.perf_counter() - t0
    return op


def _read_layer(ctx: Ctx, df, group: str, lat: float, i: int) -> dict:
    stats = ctx.probe.group_stats(group)
    layer = {f"spark.{k}": v for k, v in stats.items()}
    layer.update({f"catalyst.{k}_s": v for k, v in probes.catalyst_phases(df).items()})
    layer["spark.slot_utilization"] = stats["stage_run_s"] / (lat * ctx.nproc)
    layer["plans.build_s"] = sum(ctx.rec.totals("plans.build", op=i)[-1:])
    return layer


def _replay_zarr(ctx: Ctx, rid: int, store: str, group: str, filters: list,
                 scan_columns: list[str]) -> dict:
    """Replay one query's Zarr source calls in-process: planning
    (``schema``, ``reader``, ``pushFilters``, ``partitions``) with the
    filters Spark pushes, the reader over every kept chunk, then a fetch
    (``meta.chunk_file``) and ``decode_chunk`` of each kept chunk of each
    scanned column."""
    from pyspark.sql.types import StructType

    from zarr_datafusion_search_spark.sources import zarrv3
    from zarr_datafusion_search_spark.sources.zarr_datasource import RowRange, ZarrDataSource

    rec, reads = ctx.rec, ctx.meta_reads
    reads.count, reads.armed = 0, True
    with rec.span("zarr_datasource.plan", op=rid):
        ds = ZarrDataSource({"path": store, "group": group})
        with rec.span("zarr_datasource.schema"):
            schema = ds.schema()
        # Spark hands the reader the columns of its BatchScan node
        schema = StructType([f for f in schema.fields if f.name in scan_columns])
        with rec.span("zarr_datasource.reader"):
            reader = ds.reader(schema)
        with rec.span("zarr_datasource.pushFilters"):
            list(reader.pushFilters(list(filters)))
        with rec.span("zarr_datasource.partitions"):
            parts = reader.partitions()
    with rec.span("zarrv3.open_group", op=rid):
        g = zarrv3.open_group(store, group)
    columns = [f.name for f in schema.fields]
    n = g.n_rows
    step = max(g.arrays[c].chunk_rows for c in columns)
    kept = [(lo, min(lo + step, p.stop)) for p in parts for lo in range(p.start, p.stop, step)]
    emitted = hits = 0
    with rec.span("zarr_datasource.read", op=rid):
        for lo, hi in kept:
            got = sum(b.num_rows for b in reader.read(RowRange(lo, hi)))
            emitted += got
            hits += got > 0
    reads.armed = False
    fetched = strings = chunks = 0
    for c in columns:
        meta = g.arrays[c]
        name = "zarrv3.decode_string" if meta.dtype.is_variable else "zarrv3.decode_fixed"
        for ci in sorted({lo // meta.chunk_rows for lo, _ in kept}):
            rows = min(meta.chunk_rows, n - ci * meta.chunk_rows)
            with rec.span("zarrv3.fetch", op=rid):
                with open(meta.chunk_file(ci), "rb") as f:
                    raw = f.read()
            with rec.span(name, op=rid):
                meta.decode_chunk(raw, rows)
            fetched += len(raw)
            chunks += 1
            strings += rows if meta.dtype.is_variable else 0

    def spent(name):
        return sum(rec.totals(name, op=rid))

    return {
        "zarr_datasource.plan_s": spent("zarr_datasource.plan"),
        "zarr_datasource.partitions": len([p for p in parts if p.stop > p.start]),
        "zarr_datasource.chunks_kept": len(kept),
        "zarr_datasource.chunks_total": -(-n // step),
        "zarr_datasource.chunk_hit_ratio": hits / len(kept) if kept else 0.0,
        "zarr_datasource.read_s": spent("zarr_datasource.read"),
        "zarr_datasource.rows_decoded": sum(hi - lo for lo, hi in kept),
        "zarr_datasource.rows_emitted": emitted,
        "zarr_datasource.columns_decoded": len(columns),
        "zarrv3.open_group_s": spent("zarrv3.open_group"),
        "zarrv3.metadata_files_read": reads.count,
        "zarrv3.fetch_s": spent("zarrv3.fetch"),
        "zarrv3.bytes_fetched": fetched,
        "zarrv3.decode_string_s": spent("zarrv3.decode_string"),
        "zarrv3.decode_fixed_s": spent("zarrv3.decode_fixed"),
        "zarrv3.chunks_decoded": chunks,
        "_strings": strings,
    }


def _read_metrics(ops: list[Op], replays: dict, needed: dict) -> dict:
    """Medians over the traced operations of the per-op numbers; each op
    takes the replay of its own query, or of the first query of its kind."""
    by_kind = {}
    for key, r in replays.items():
        by_kind.setdefault(r["_kind"], r)
    per_op = []
    for op in ops:
        r = dict(replays.get(op.key) or by_kind[op.kind])
        r.update({k: v for k, v in op.layer.items() if k != "scan_columns"})
        r["zarr_datasource.columns_needed"] = needed[op.kind]
        per_op.append(r)
    keys = {k for r in per_op for k in r if not k.startswith("_")}
    out = {k: _median(r.get(k, 0.0) for r in per_op) for k in keys}
    strings = sum(r["_strings"] for r in replays.values())
    decode = sum(r["zarrv3.decode_string_s"] for r in replays.values())
    out["zarrv3.strings_per_s"] = strings / decode if decode else 0.0
    return out


class Scan(Workload):
    """Repeated full-result queries over a seeded reference-shaped store.

    Each set-up writes the store from a cached DataFrame with one of the
    package's two writers (``df.write.format("zarr")``, then
    ``write_zarr_distributed``, then the first again), opens it and runs
    ``SELECT *``, whose checksum reads the whole store back. The queries
    then run on the last store."""

    name = "scan"
    ROWS = 6 * gen.CHUNK_ROWS
    KINDS = ("star", "filter", "group")
    NEEDED = {"star": 3, "filter": 2, "group": 3}
    WRITERS = ("datasource", "sink", "datasource")

    def prepare(self, ctx):
        import pandas as pd

        from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource

        self.cols = gen.reference_columns(ctx.seed, self.ROWS)
        dig = check.column_digests(self.cols)
        self.expected = {
            "star": check.expected_checksum(dig, list(REF_COLUMNS)),
            "group": check.expected_group_checksum(self.cols, dig, list(REF_COLUMNS)),
        }
        coll = np.asarray(self.cols["collection"], dtype=object)
        for c in gen.COLLECTIONS:
            self.expected[c] = check.expected_checksum(dig, ["collection", "date"], coll == c)
        rng = np.random.default_rng(ctx.seed + 11)
        self.filter_coll = [gen.COLLECTIONS[j] for j in rng.integers(0, len(gen.COLLECTIONS), 4096)]
        ctx.spark.dataSource.register(ZarrDataSource)
        self.src = ctx.spark.createDataFrame(pd.DataFrame(self.cols)).cache()
        self.src.count()
        self.store = None
        self.writes: list[dict] = []

    def setup(self, ctx, rep):
        from zarr_datafusion_search_spark import ZarrTable
        from zarr_datafusion_search_spark.sources.zarr_sink import write_zarr_distributed

        if self.store:
            shutil.rmtree(self.store)
        self.store = os.path.join(ctx.work, f"scan-{rep}.zarr")
        writer = self.WRITERS[rep % len(self.WRITERS)]
        group = ctx.probe.new_group(writer) if ctx.probe else None
        t0 = time.perf_counter()
        if writer == "datasource":
            with ctx.rec.span("zarr_datasource.save"):
                (self.src.write.format("zarr").option("group", "/meta")
                 .option("chunk_rows", str(gen.CHUNK_ROWS)).mode("append").save(self.store))
        else:
            with ctx.rec.span("zarr_sink.write_zarr_distributed"):
                write_zarr_distributed(self.src, self.store, "/meta", chunk_rows=gen.CHUNK_ROWS)
        lat = time.perf_counter() - t0
        if ctx.probe:
            self.writes.append({"writer": writer, "latency_s": lat, **ctx.probe.group_stats(group)})
        with ctx.rec.span("zarr_table.open"):
            self.table = ZarrTable(self.store, "/meta")
        self.stored_bytes_per_row = gen.dir_bytes(self.store) / self.ROWS
        return [self.run_op(ctx, 0, False)]

    def warm(self, ctx):
        # SELECT * already ran in every set-up
        return [self.run_op(ctx, i, False) for i in range(1, len(self.KINDS))]

    def query(self, i):
        kind = self.KINDS[i % len(self.KINDS)]
        if kind == "star":
            return kind, kind, "SELECT * FROM scan_t", REF_COLUMNS
        if kind == "filter":
            c = self.filter_coll[i % len(self.filter_coll)]
            inner = f"SELECT collection, date FROM scan_t WHERE collection = '{c}'"
            return kind, c, inner, {"collection": STRING, "date": TIMESTAMP}
        inner = ("SELECT bbox, collection, date, count(*) AS n FROM scan_t "
                 "GROUP BY bbox, collection, date")
        return kind, kind, inner, {**REF_COLUMNS, "n": LONG}

    def run_op(self, ctx, i, traced):
        kind, key, inner, columns = self.query(i)
        return _timed_read(ctx, i, traced, kind, key, self.table, "scan_t",
                           inner, columns, self.expected[key])

    def layer_metrics(self, ctx, ops):
        from pyspark.sql.datasource import EqualTo

        traced = [op for op in ops if op.layer]
        replays = {}
        for rid, op in enumerate(traced):
            if op.kind in {r["_kind"] for r in replays.values()}:
                continue
            filters = [EqualTo(("collection",), op.key)] if op.kind == "filter" else []
            r = _replay_zarr(ctx, 100_000 + rid, self.store, "/meta", filters,
                             op.layer["scan_columns"])
            replays[op.key] = {**r, "_kind": op.kind}
        return {**_read_metrics(traced, replays, self.NEEDED), **self._write_metrics(ctx)}

    def _write_metrics(self, ctx):
        """Writer numbers from the set-up writes, and an in-process replay
        of ``encode_chunk_payload`` over the input, chunk by chunk."""
        from zarr_datafusion_search_spark.sources import zarrv3

        rid = 200_000
        encoded = 0
        for values in self.cols.values():
            is_string = not isinstance(values, np.ndarray)
            for lo in range(0, self.ROWS, gen.CHUNK_ROWS):
                with ctx.rec.span("zarrv3.encode", op=rid):
                    payload = zarrv3.encode_chunk_payload(
                        values[lo : lo + gen.CHUNK_ROWS], is_string, 0, 0)
                encoded += len(payload)
        ds = [w for w in self.writes if w["writer"] == "datasource"]
        sink = [w for w in self.writes if w["writer"] == "sink"]
        return {
            "zarrv3.encode_s": sum(ctx.rec.totals("zarrv3.encode", op=rid)),
            "zarrv3.bytes_encoded": encoded,
            "zarr_datasource.write_job_s": _median(w["job_wall_s"] for w in ds),
            "zarr_datasource.commit_s": _median(w["latency_s"] - w["job_wall_s"] for w in ds),
            "zarr_sink.jobs": _median(w["jobs"] for w in sink),
            "zarr_sink.shuffle_bytes": _median(w["shuffle_write_bytes"] for w in sink),
            "zarr_sink.write_stage_s": _median(w["last_job_wall_s"] for w in sink),
            "zarr_sink.commit_s": _median(w["latency_s"] - w["job_wall_s"] for w in sink),
        }

    def close(self, ctx):
        self.src.unpersist()


# ---------------------------------------------------------------------------
# pipeline: operator-heavy registry queries against their DuckDB oracles
# ---------------------------------------------------------------------------


class Pipeline(Workload):
    """Operator-heavy registry queries over seeded documents, embeddings
    and customers; each result is hashed against its DuckDB oracle."""

    name = "pipeline"
    KINDS = (
        "dedup_ngram_containment",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "label_propagation_sources",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "federated_zarr_parquet_join",
    )
    N_DOCS, N_EMB, N_CUST = 1000, 500, 1500

    def prepare(self, ctx):
        import duckdb

        from zarr_datafusion_search_spark.plans.registry import load_all

        self.sf = os.path.join(ctx.work, "pipeline")
        tables = gen.pipeline_tables(ctx.seed, self.N_DOCS, self.N_EMB, self.N_CUST)
        gen.write_parquet_dir(tables, self.sf)
        registry = load_all()
        self.specs = {q: registry[q] for q in self.KINDS}
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        self.oracle = {q: check.oracle_hash(con, self.specs[q].oracle) for q in self.KINDS}
        con.close()
        rng = np.random.default_rng(ctx.seed + 13)
        self.order = [q for _ in range(256) for q in rng.permutation(self.KINDS)]

    def setup(self, ctx, rep):
        from zarr_datafusion_search_spark.plans.zarr_queries import SHARDED_FIXTURE_STORE
        from zarr_datafusion_search_spark.sources import zarrv3

        # the federated query opens a ZarrTable over the registry's
        # sharded fixture: it is the set-up query, and that store is the
        # one whose bytes per row are reported
        ops = [self._run(ctx, 0, "federated_zarr_parquet_join", False)]
        self.store = SHARDED_FIXTURE_STORE
        rows = zarrv3.open_group(self.store, "/meta").n_rows
        self.stored_bytes_per_row = gen.dir_bytes(self.store) / rows
        return ops

    def run_op(self, ctx, i, traced):
        return self._run(ctx, i, self.order[i % len(self.order)], traced)

    def _run(self, ctx, i, name, traced):
        rec = ctx.rec
        group = ctx.probe.new_group(name) if traced else None
        t0 = time.perf_counter()
        with rec.span("op", op=i):
            with rec.span("plans.build"):
                df = self.specs[name].spark(ctx.spark, self.sf)
            with rec.span("spark.execute"):
                rows = df.collect()
        lat = time.perf_counter() - t0
        op = Op(name, name, lat, len(rows), False)
        if traced:
            op.layer = _read_layer(ctx, df, group, lat, i)
            op.layer["scan_columns"] = probes.scanned_columns(df)
            op.layer["iteration_s"] = time.perf_counter() - t0
        op.ok = check.result_hash(df.columns, rows) == self.oracle[name]
        return op

    def layer_metrics(self, ctx, ops):
        from zarr_datafusion_search_spark import ZarrTable

        with ctx.rec.span("zarr_table.open"):
            table = ZarrTable(self.store, "/meta")
        fed = [op for op in ops if op.kind == "federated_zarr_parquet_join"]
        columns = next((op.layer["scan_columns"] for op in fed if op.layer), table.column_names())
        r = _replay_zarr(ctx, 100_000, self.store, "/meta", [], columns)
        replays = {fed[0].key: {**r, "_kind": fed[0].kind}}
        zarr_part = _read_metrics(fed, replays, {fed[0].kind: len(columns)})
        out = {k: v for k, v in zarr_part.items() if k.startswith("zarr")}
        traced = [op for op in ops if op.layer]
        keys = {k for op in traced for k in op.layer if "." in k}
        out.update({k: _median(op.layer[k] for op in traced if k in op.layer) for k in keys})
        for q in self.KINDS:
            out[f"operators.{q}_s"] = _median(op.latency_s for op in ops if op.kind == q)
        return out
