"""The two workloads: set-up, one operation, and the checks on its output.

Every operation starts from an empty Spark cache and runs under a job group
of its own.  A traced operation also reads, after its action, the jobs,
stages and final-plan SQL metrics Spark recorded for it; that reading is
inside its wall time, so traced minus untraced wall is the tracing cost.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa

from . import inputs
from .sparkmetrics import ActionReader

DATA_COLUMNS = ["repo", "path", "commit", "lang", "content"]
# run once, checked but untimed, before the measured pass: it encodes and
# decodes through the codecs, the Arrow boundary and a shuffle, as most
# headline queries do
WARMUP_QUERY = "roundtrip_auto_all"


@dataclass
class Ctx:
    run_dir: str
    seed: int
    scale: str
    nproc: int
    spark: object = None
    reader: ActionReader | None = None
    session_starts: list = field(default_factory=list)
    native_load_s: float | None = None
    native_loaded: bool = False

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def start_session(self) -> None:
        """(Re)start the SparkSession; the first call also launches the JVM."""
        from parquet4seastar_spark.engine.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            app_name="p4s-perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.reader = None
        self.session_starts.append(time.perf_counter() - t0)

    def load_native(self) -> None:
        from parquet4seastar_spark.codecs import _native

        t0 = time.perf_counter()
        self.native_loaded = _native.get_kernel() is not None
        if self.native_load_s is None:
            self.native_load_s = time.perf_counter() - t0

    def warm_workers(self) -> None:
        """Start one Python worker per core with the engine's modules and
        native kernel loaded, as the first operation would."""

        def touch(batches):
            from parquet4seastar_spark.codecs import _native, pages  # noqa: F401
            from parquet4seastar_spark.engine import decode_job, encode_job  # noqa: F401
            from parquet4seastar_spark.operators import dedup, similarity, text  # noqa: F401

            loaded = _native.get_kernel() is not None
            for b in batches:
                yield pa.RecordBatch.from_pydict({"n": [b.num_rows], "native": [loaded]})

        rows = (
            self.spark.range(0, self.nproc, 1, self.nproc)
            .mapInArrow(touch, "n long, native boolean")
            .collect()
        )
        if not all(r["native"] for r in rows) and self.native_loaded:
            raise RuntimeError("native kernel loaded in the Spark driver process but not in a worker")

    def actions(self) -> ActionReader:
        if self.reader is None:
            self.reader = ActionReader(self.spark)
        return self.reader


@dataclass
class Op:
    key: str
    wall: float
    failures: list
    layers: dict = field(default_factory=dict)
    trace_s: float = 0.0  # part of ``wall`` spent reading Spark's records
    peak_mb: dict = field(default_factory=dict)  # peak RSS during the op


def checked(run, key: str) -> Op:
    """``run()``, one checked operation; one that raises is counted as
    failed, never skipped."""
    t0 = time.perf_counter()
    try:
        return run()
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        return Op(key, time.perf_counter() - t0,
                  [f"{key}.exception: {type(e).__name__}: {str(e)[:300]}"])


def encode_pages(spark, src_path: str, out_path: str, salt_target_rows: int) -> None:
    """The CLI ``encode`` shape: auto policy, row-count salting, pages table
    written as parquet."""
    from parquet4seastar_spark.engine.encode_job import encode_table

    src = spark.read.parquet(src_path)
    encode_table(src, policy="auto", salt_target_rows=salt_target_rows).write.mode(
        "overwrite"
    ).parquet(out_path)


def pages_stats(pages_path: str) -> tuple[int, int, int, int, int]:
    """(input bytes, stored bytes, chunks, pages, chunks of a split repo) of
    a written pages table, read driver-side from its small metadata
    columns."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(pages_path, columns=["kind", "input_bytes", "compressed_size",
                                           "salt_buckets"])
    chunk = pc.equal(t.column("kind"), "chunk")
    rows = t.filter(chunk)
    return (
        pc.sum(rows.column("input_bytes")).as_py(),
        pc.sum(rows.column("compressed_size")).as_py(),
        rows.num_rows,
        t.num_rows - rows.num_rows,
        pc.sum(pc.greater(rows.column("salt_buckets"), 1)).as_py(),
    )


def column_bytes(df) -> tuple:
    """(rows, octet length of each data column) of a corpus-shaped frame."""
    import pyspark.sql.functions as F

    r = df.agg(
        F.count(F.lit(1)), *[F.sum(F.octet_length(c)) for c in DATA_COLUMNS]
    ).collect()[0]
    return tuple(int(v or 0) for v in r)


def _traced_layers(reader: ActionReader, group: str, prefix: str, keys) -> tuple[dict, float]:
    """(layer metrics of the action just run under ``group``, seconds the
    reading took)."""
    t0 = time.perf_counter()
    jobs, stages = reader.jobs(group)
    plan = reader.plan_metrics(reader.new_executions())
    out = {f"{prefix}.jobs": jobs, f"{prefix}.stages": stages}
    out.update({f"{prefix}.{k}": plan[k] for k in keys})
    return out, time.perf_counter() - t0


class CorpusRoundtrip:
    """Encode the corpus into a stored pages table, then decode all five
    columns back from storage and verify them against the source.  One
    checked but untimed op warms the JVM up first: the first op of a run
    takes about twice as long as later ones (JIT compilation, first-touch
    memory in the workers).  Then at least three timed ops are run."""

    name = "corpus_roundtrip"
    # per-layer metrics of the layers every op runs through: a traced run
    # fails when one reads 0 (a Spark metric renamed, a plan node missed).
    # Not decode_job.sort_s: the decode sorts page rows, a few hundred, which
    # takes less than the 1 ms tick of Spark's per-task sort timer, so it
    # reads 0; decode_job.sort_peak_mb shows that the Sort node was read.
    exercised = [
        "encode_job.salt_exchange_s", "encode_job.python_total_s", "encode_job.arrow_sent_mb",
        "encode_job.arrow_recv_mb", "encode_job.shuffle_write_mb", "encode_job.jobs",
        "encode_job.stages", "encode_job.chunks", "encode_job.pages", "encode_job.salted_chunks",
        "decode_job.schema_collect_s", "decode_job.scan_s", "decode_job.shuffle_write_mb",
        "decode_job.sort_peak_mb", "decode_job.python_total_s",
        "decode_job.jobs", "decode_job.stages", "verify.s", "verify.jobs",
    ]

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rows, self.salt_target_rows = inputs.CORPUS[ctx.scale]
        self.src = ctx.path("corpus")
        self.pages = ctx.path("pages")
        self.generate_s: list[float] = []
        self.stats = None

    def setup(self) -> None:
        self.ctx.start_session()
        t0 = time.perf_counter()
        inputs.write_corpus(self.ctx.spark, self.src, self.rows, self.ctx.seed)
        self.generate_s.append(time.perf_counter() - t0)
        self.ctx.load_native()
        self.ctx.warm_workers()

    def prepare(self) -> None:
        self.source_bytes = column_bytes(self.ctx.spark.read.parquet(self.src))

    def step(self, i: int) -> str:
        return self.name

    def enough(self, n: int) -> bool:
        return n >= 3

    def wall(self, walls: list[float]) -> float:
        """wall_s: the median timed operation."""
        return statistics.median(walls)

    def warmup(self) -> list[Op]:
        return [checked(lambda: self.op(self.name, False), f"warmup.{self.name}")]

    def content_mb(self) -> float:
        return self.source_bytes[-1] / 1e6

    def op(self, key: str, traced: bool) -> Op:
        from parquet4seastar_spark.engine.decode_job import decode_table
        from parquet4seastar_spark.engine.verify import roundtrip_verify_fast

        spark = self.ctx.spark
        spark.catalog.clearCache()
        reader = self.ctx.actions()
        if traced:
            reader.new_executions()
        layers, trace_s = {}, 0.0

        def read(group, prefix, keys, t_end):
            nonlocal trace_s
            got, dt = _traced_layers(reader, group, prefix, keys)
            layers.update(got)
            trace_s += dt
            return t_end + dt

        group = reader.begin("encode")
        t0 = time.perf_counter()
        encode_pages(spark, self.src, self.pages, self.salt_target_rows)
        t1 = time.perf_counter()
        layers["encode_job.s"] = t1 - t0
        if traced:
            t1 = read(group, "encode_job", ["python_total_s", "python_boot_s", "arrow_sent_mb",
                                            "arrow_recv_mb", "shuffle_write_mb"], t1)
        group = reader.begin("decode")
        pages = spark.read.parquet(self.pages)
        decoded = decode_table(pages, DATA_COLUMNS)
        layers["decode_job.schema_collect_s"] = time.perf_counter() - t1
        got = column_bytes(decoded)
        t2 = time.perf_counter()
        layers["decode_job.s"] = t2 - t1
        if traced:
            t2 = read(group, "decode_job", ["scan_s", "shuffle_write_mb", "sort_s",
                                            "sort_peak_mb", "python_total_s"], t2)
        group = reader.begin("verify")
        res = roundtrip_verify_fast(spark.read.parquet(self.src), pages, DATA_COLUMNS).collect()
        t3 = time.perf_counter()
        layers["verify.s"] = t3 - t2
        if traced:
            t_read = time.perf_counter()
            layers["verify.jobs"] = reader.jobs(group)[0]
            reader.new_executions()
            trace_s += time.perf_counter() - t_read
        wall = time.perf_counter() - t0
        failures = []
        if got != self.source_bytes:
            failures.append(f"decode.bytes: {got} != {self.source_bytes}")
        if not res or not all(r["match"] for r in res):
            bad = sum(1 for r in res if not r["match"])
            failures.append(f"verify.match: {bad} of {len(res)} part keys differ")
        stats = pages_stats(self.pages)
        if not stats[4]:
            failures.append("salting.split: no chunk comes from a repo split into salt buckets")
        if self.stats is None:
            self.stats = stats
        elif stats != self.stats:
            failures.append(f"stored_ratio.repeat: {stats} != {self.stats}")
        return Op(self.name, wall, failures, layers if traced else {}, trace_s)

    def finish(self) -> tuple[dict, list]:
        if self.stats is None:
            raise RuntimeError("no operation completed")
        in_b, out_b, chunks, pages, salted = self.stats
        return {
            "stored_ratio": out_b / in_b,
            "stored": (in_b, out_b),
            "encode_job.chunks": chunks,
            "encode_job.pages": pages,
            "encode_job.salted_chunks": salted,
        }, []

    def trace_extra(self) -> tuple[dict, list]:
        """The salted exchange alone (salted_repartition into a noop sink),
        and the driver-side codec spans."""
        from parquet4seastar_spark.engine.encode_job import salted_repartition

        from . import layers

        spark = self.ctx.spark
        spark.catalog.clearCache()
        self.ctx.actions().begin("salt-exchange")
        src = spark.read.parquet(self.src)
        t0 = time.perf_counter()
        salted_repartition(
            src, max(spark.sparkContext.defaultParallelism, 8),
            salt_target_rows=self.salt_target_rows,
        ).write.format("noop").mode("overwrite").save()
        out = {"encode_job.salt_exchange_s": time.perf_counter() - t0}
        sampled, failures = layers.sample(self.src, self.ctx.seed)
        return {**out, **sampled}, failures


class HeadlineQueries:
    """The 16 headline queries of bench.py, once each per pass, in an order
    the seed permutes.

    The first action of a pass pays 3 to 5 s more than later ones (JIT
    compilation, first use of the query paths), whichever query it is, and
    that cost would land on a different query for every seed.  One untimed
    query before the pass keeps it out.  A whole untimed warm-up pass was
    tried and dropped: over 8 seeds the warm pass after it spread more
    (interquartile range / median 0.12) than the pass without it (0.07),
    and it made a run 40% longer."""

    name = "headline_queries"

    def __init__(self, ctx: Ctx):
        import bench

        self.ctx = ctx
        self.tables = ctx.path("tables")
        self.order = list(bench.HEADLINE_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        # every query runs at least one Spark job; a traced run fails when
        # one of these reads 0
        self.exercised = [f"query.{q}.{m}" for q in self.order for m in ("s", "jobs")]
        self.generate_s: list[float] = []

    def setup(self) -> None:
        self.ctx.start_session()
        t0 = time.perf_counter()
        self.table_bytes = inputs.write_query_tables(self.tables, self.ctx.seed, self.ctx.scale)
        self.generate_s.append(time.perf_counter() - t0)
        self.ctx.load_native()
        self.ctx.warm_workers()

    def prepare(self) -> None:
        """DuckDB oracle hashes of every query over the same tables."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracles import canon

        self.queries = entry.queries()
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {self.ctx.nproc}")
            con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
            for t in ("documents", "embeddings", "lineitem"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
                )
            self.oracle = {n: canon(con.execute(sql[n]).fetchdf()) for n in self.order}
        finally:
            con.close()

    def warmup(self) -> list[Op]:
        return [checked(lambda: self.op(WARMUP_QUERY, False), f"warmup.{WARMUP_QUERY}")]

    def step(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def enough(self, n: int) -> bool:
        return n > 0 and n % len(self.order) == 0

    def wall(self, walls: list[float]) -> float:
        """wall_s: the median pass over all the queries."""
        n = len(self.order)
        return statistics.median(sum(walls[k : k + n]) for k in range(0, len(walls) - n + 1, n))

    def op(self, name: str, traced: bool) -> Op:
        from check_oracles import canon

        ctx = self.ctx
        spark = ctx.spark
        spark.catalog.clearCache()
        reader = ctx.actions()
        if traced:
            reader.new_executions()
        group = reader.begin(name)
        t0 = time.perf_counter()
        pdf = self.queries[name](spark, self.tables).toPandas()
        layers, trace_s = {}, 0.0
        if traced:
            t1 = time.perf_counter()
            layers[f"query.{name}.s"] = t1 - t0
            layers[f"query.{name}.jobs"] = reader.jobs(group)[0]
            reader.new_executions()
            trace_s = time.perf_counter() - t1
        wall = time.perf_counter() - t0
        failures = []
        got = canon(pdf)
        if got != self.oracle[name]:
            failures.append(f"oracle.{name}: spark {got} != duckdb {self.oracle[name]}")
        return Op(name, wall, failures, layers, trace_s)

    def content_mb(self) -> float:
        return self.table_bytes / 1e6

    def finish(self) -> tuple[dict, list]:
        """Stored ratio, under the auto policy with one chunk per column, of
        the columns roundtrip_auto_all and roundtrip_lineitem encode."""
        import pyarrow.parquet as pq

        from parquet4seastar_spark.codecs.pages import encode_chunk

        in_b = out_b = 0
        for table, cols in (
            ("documents", ("text", "lang", "source", "n_chars")),
            ("lineitem", ("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")),
        ):
            t = pq.read_table(f"{self.tables}/{table}.parquet", columns=list(cols))
            for c in cols:
                chunk = encode_chunk(t.column(c).combine_chunks(), policy="auto")
                in_b += chunk.input_bytes
                out_b += chunk.compressed_bytes
        return {"stored_ratio": out_b / in_b, "stored": (in_b, out_b)}, []

    def trace_extra(self) -> tuple[dict, list]:
        return {}, []


WORKLOADS = {w.name: w for w in (CorpusRoundtrip, HeadlineQueries)}

