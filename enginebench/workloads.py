"""The benchmark's workloads. Each drives the engine only through its public
functions, on inputs generated from the workload seed.

Both workloads run the same closed-loop cycle with one client, repeated
while the measuring window lasts (see run_workload):

  1. bulk write         the whole input into a fresh store
  2. incremental write  web_cdc: an upsert batch; itch_convert: an
                        appended capture segment
  3. 2 point reads      checked against the oracle
  4. full scan          decode_store of the whole table, checked row for row

Every cycle starts from the same inputs and makes the same writes and
reads, so its state (and the point-read latency that grows with each
commit) does not depend on how fast the box is. Before the window one
cycle runs on a tenth of the inputs to warm every code path and its store
is compacted (maintenance.rewrite_small_chunks); after the window the last
cycle's store is compacted and checked.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from benchlib import median, tail

# ----------------------------------------------------------------- sizing
# Sized so one warm cycle takes ~8-11 s on a 4-core box: a run (JVM start,
# warm-up, three set-ups, the cycles, final checks) must stay near a
# minute, because the benchmark is run 48 times inside one hour on a box
# whose speed swings by half.
WEB_ROWS = 3000          # ~15 MB of 0.5-8 KiB html rows
WEB_UPSERT_ROWS = 100
UPSERT_SUFFIX = " (revised)"
ITCH_BASE_MSGS = 12000   # ~0.7 MB capture, ~5 MB wide record
ITCH_SEGMENT_MSGS = 3000
# the warm-up cycle's inputs: a tenth of the measured ones, through the
# same plans and code paths
WEB_WARM_ROWS = 300
WEB_WARM_UPSERT_ROWS = 10
ITCH_WARM_BASE_MSGS = 1200
ITCH_WARM_SEGMENT_MSGS = 300
SETUP_REPEATS = 3
MIN_CYCLES = 2           # a median of at least two samples per metric


class Ctx:
    """Per-run state: the session, the work directory, the tracer, the
    timing samples and the operation/failure counts."""

    def __init__(self, spark, work: str, seed: int, cores: int, tracer):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run (a diagnostic)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why.strip().splitlines()[-1]}")
        print(f"[enginebench] {what} failed: {why}", file=sys.stderr)

    def op(self, name: str, fn, check=None):
        """Run one counted operation. Returns (result, seconds), or
        (None, None) when it raised. ``check(result)`` returns None when
        the result is correct, else a description of what is wrong."""
        self.attempted += 1
        try:
            with self.tracer.span(name):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            self.fail(name, traceback.format_exc())
            return None, None
        if check is not None:
            try:
                problem = check(out)
            except Exception:  # noqa: BLE001
                problem = traceback.format_exc()
            if problem:
                self.fail(name, problem)
        return out, dt


def canon(tbl: pa.Table, schema: pa.Schema, keys: list[str]) -> pa.Table:
    """Project and cast to ``schema``, order rows by ``keys``."""
    tbl = tbl.select(schema.names).cast(schema).combine_chunks()
    return tbl.sort_by([(k, "ascending") for k in keys])


def same_rows(got: pa.Table, want: pa.Table, keys: list[str]) -> str | None:
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows, expected {want.num_rows}"
    g = canon(got, want.schema, keys)
    w = canon(want, want.schema, keys)
    for name in w.schema.names:
        if not g.column(name).equals(w.column(name)):
            return f"column {name} differs"
    return None


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path))


class Workload:
    """Shared cycle; subclasses supply the inputs, writes and oracle."""

    name = ""
    idle_layers: tuple[str, ...] = ()   # per-layer metrics reported as 0
    key = ""                 # point-read filter column
    sort_keys: list[str] = []
    partition_col = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.golden_bytes = 0
        self.bulk_results = []      # (store dir, EncodeResult) per cycle
        self._expected: dict[int, pa.Table] = {}   # build_oracle fills it

    # subclasses -------------------------------------------------------
    def setup(self) -> None: ...
    def release_setup(self) -> None: ...
    def build_oracle(self) -> None: ...
    def bulk_input(self): ...
    def incremental_write(self, store: str): ...
    def read_keys(self) -> list: ...

    def encode_kwargs(self) -> dict:
        """encode_dataframe settings shared by every write."""
        return {"partition_by": [self.partition_col]}

    def bulk_write(self, store: str):
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        return encode_dataframe(self.bulk_input(), store,
                                **self.encode_kwargs())

    def store_checks(self, store: str) -> None:
        """Checks of a compacted store beyond the cycle's own."""

    def expected(self, k: int) -> pa.Table:
        """The oracle's table after ``k`` incremental writes (0 or 1)."""
        return self._expected[k]

    def expected_rows(self, value) -> pa.Table:
        t = self.expected(1)
        return t.filter(pc.equal(t.column(self.key), value))

    # the cycle ---------------------------------------------------------
    def point_read(self, store: str, value) -> float | None:
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        ctx = self.ctx
        want = self.expected_rows(value)

        def read():
            with ctx.tracer.span("decode.plan"):
                t0 = time.perf_counter()
                df = decode_store(ctx.spark, store,
                                  filters=[(self.key, "==", value)])
                ctx.layer["decode.plan_ms"].append(
                    (time.perf_counter() - t0) * 1e3)
            return df.toArrow()

        def check(got):
            if want.num_rows == 0:
                return "oracle has no row for the drawn key"
            return same_rows(got, want, self.sort_keys)

        _, dt = ctx.op("point_read", read, check)
        return dt

    def cycle(self, tag) -> str:
        """Bulk write, incremental write, point reads, full scan; returns
        the store."""
        from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
            ChunkStore,
        )
        ctx = self.ctx
        store = os.path.join(ctx.work, f"store-{tag}")
        shutil.rmtree(store, ignore_errors=True)
        res, dt = ctx.op("bulk_write", lambda: self.bulk_write(store),
                         lambda r: None if r.rows == self.expected(0)
                         .num_rows else f"encoded {r.rows} rows")
        if res is None:
            return store
        self.bulk_results.append((store, res))
        ctx.samples["encode_mbps"].append(res.bytes_in / 1e6 / dt)
        ctx.samples["compression_ratio"].append(res.ratio)
        ctx.samples["size_vs_reference"].append(
            dir_bytes(os.path.join(store, "chunks")) / self.golden_bytes)
        ctx.layer["encode.job_s"].append(dt)
        _, dt = ctx.op("write", lambda: self.incremental_write(store))
        if dt is not None:
            ctx.samples["write_ms"].append(dt * 1e3)
        snap = ChunkStore(store).current_snapshot()
        ctx.layer["snapshot.manifests"].append(len(snap["manifests"]))
        ctx.layer["snapshot.delete_files"].append(
            len(snap.get("delete_files", [])))
        # one sample a cycle: the mean over the keys, which read
        # differently laid-out rows (web_cdc: one upserted, one untouched),
        # so the median never falls between two latency clusters
        dts = [self.point_read(store, v) for v in self.read_keys()]
        if None not in dts:
            ctx.samples["read_ms"].append(sum(dts) / len(dts) * 1e3)
        self.full_scan(store)
        return store

    def full_scan(self, store: str) -> None:
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        ctx = self.ctx

        def scan():
            with ctx.tracer.span("decode.plan"):
                t0 = time.perf_counter()
                df = decode_store(ctx.spark, store)
                ctx.layer["decode.plan_ms"].append(
                    (time.perf_counter() - t0) * 1e3)
            return df.toArrow()

        final = self.expected(1)
        _, dt = ctx.op("full_scan", scan,
                       lambda got: same_rows(got, final, self.sort_keys))
        if dt is not None:
            ctx.samples["decode_mbps"].append(final.nbytes / 1e6 / dt)

    def compact(self, store: str) -> None:
        from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
            rewrite_small_chunks,
        )
        ctx = self.ctx
        out, dt = ctx.op("compact",
                         lambda: rewrite_small_chunks(ctx.spark, store))
        if dt is not None:
            ctx.samples["compact_s"].append(dt)
            ctx.layer["maintenance.rewrite_s"].append(dt)
            ctx.layer["maintenance.rows_rewritten"].append(
                rows_in_pids(store, out["rewritten_pids"]))


def rows_in_pids(store: str, pids: list[int]) -> int:
    """Live rows of the given pids (counted on one column per chunk)."""
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    if not pids:
        return 0
    m = ChunkStore(store).manifest_table()
    m = m.filter(pc.is_in(m.column("pid"),
                          value_set=pa.array(pids, type=pa.int32())))
    first = m.column("column")[0].as_py() if m.num_rows else None
    m = m.filter(pc.equal(m.column("column"), first))
    return int(pc.sum(m.column("rows")).as_py() or 0)


# ------------------------------------------------------------- web_cdc

class WebCdc(Workload):
    """Bulk-encode the synthetic web corpus, then upsert a batch with
    changed ``text`` keyed on ``url`` and point-read by ``url``."""

    name = "web_cdc"
    idle_layers = ("pcap.frame_mbps", "wide_record.parse_mbps")
    key = "url"
    sort_keys = ["url"]
    partition_col = "lang"

    def __init__(self, ctx: Ctx, warm: bool = False):
        """``warm``: the small inputs of the warm-up cycle."""
        super().__init__(ctx)
        self.corpus = None
        self.rows = WEB_WARM_ROWS if warm else WEB_ROWS
        # bench.py's encode settings: ~4 MB work units, salted lang pids;
        # at least two per task slot, so the job runs in even waves. The
        # warm-up uses the same number, so it runs the same plans.
        self.num_pids = max(2 * ctx.cores,
                            min(ctx.cores * 8, WEB_ROWS * 5200 // (4 << 20)))
        rng = np.random.default_rng([ctx.seed, 1])
        self.batch = np.sort(rng.choice(
            self.rows, WEB_WARM_UPSERT_ROWS if warm else WEB_UPSERT_ROWS,
            replace=False))
        untouched = np.setdiff1d(np.arange(self.rows), self.batch)
        # after the upsert: one row it just changed, one it did not touch
        self.read_ids = [int(rng.choice(self.batch)),
                         int(rng.choice(untouched))]

    def encode_kwargs(self) -> dict:
        return dict(partition_by=["lang"], salt_key="url",
                    num_pids=self.num_pids, salt=128)

    def setup(self) -> None:
        from omi_cpp_parquet_wide_record_spark import fixtures as FX
        self.corpus = FX.web_pages_df(self.ctx.spark, self.rows,
                                      seed=self.ctx.seed,
                                      partitions=self.ctx.cores * 2).persist()
        self.corpus.count()

    def release_setup(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist(blocking=True)
            self.corpus = None

    def build_oracle(self) -> None:
        from omi_cpp_parquet_wide_record_spark import fixtures as FX
        base = FX.web_pages_table(self.rows, seed=self.ctx.seed)
        self._expected[0] = base
        path = os.path.join(self.ctx.work, "golden.parquet")
        self.golden_bytes = FX.write_golden_parquet(base, path)
        os.remove(path)
        self.urls = base.column("url").combine_chunks()
        self.batch_urls = self.urls.take(pa.array(self.batch)).to_pylist()
        text = base.column("text").combine_chunks()
        mask = np.zeros(self.rows, dtype=bool)
        mask[self.batch] = True
        revised = pc.if_else(pa.array(mask), pc.binary_join_element_wise(
            text, UPSERT_SUFFIX, ""), text)
        self._expected[1] = base.set_column(
            base.schema.get_field_index("text"), base.schema.field("text"),
            revised)

    def bulk_input(self):
        return self.corpus

    def upserted(self):
        """The corpus with the batch's rows carrying their changed text."""
        from pyspark.sql import functions as F
        changed = F.col("url").isin(self.batch_urls)
        return self.corpus.withColumn("text", F.when(
            changed, F.concat(F.col("text"), F.lit(UPSERT_SUFFIX)))
            .otherwise(F.col("text")))

    def incremental_write(self, store: str):
        from pyspark.sql import functions as F

        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        batch = self.upserted().filter(F.col("url").isin(self.batch_urls))
        with self.ctx.tracer.span("encode.upsert_job"):
            return encode_dataframe(batch, store, upsert_key="url",
                                    resume=False, **self.encode_kwargs())

    def read_keys(self) -> list:
        return [self.urls[i].as_py() for i in self.read_ids]

    def store_checks(self, store: str) -> None:
        """The owrc DataSource's read of the compacted store must equal the
        expected final table row for row, every column bit for bit. With
        the cycle's full-scan check (decode_store == the same table) this
        shows that decode_store and the DataSource agree, and that
        compaction kept every row; a row-for-row comparison is stricter
        than operators.verify.verify_roundtrip's keyed join.

        Untraced runs drive the DataSource's reader in-process, through
        its public partitions() and read(), as a Spark Python worker
        would: a scan through Spark costs ~6 s of one-off Python
        DataSource start-up, which does not fit a run. The traced run
        makes that scan and times it for owrc.scan_s."""
        from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
            OwrcDataSource,
        )
        ctx = self.ctx
        final = self.expected(1)

        def in_process():
            ds = OwrcDataSource({"path": store})
            reader = ds.reader(ds.schema())
            return pa.Table.from_batches(
                [b for part in reader.partitions()
                 for b in reader.read(part)])

        ctx.op("owrc_read", in_process,
               lambda got: same_rows(got, final, self.sort_keys))
        if not ctx.tracer.enabled:
            return
        ctx.spark.dataSource.register(OwrcDataSource)
        _, dt = ctx.op(
            "owrc_scan",
            lambda: ctx.spark.read.format("owrc").load(store).toArrow(),
            lambda got: same_rows(got, final, self.sort_keys))
        if dt is not None:
            ctx.layer["owrc.scan_s"].append(dt)


# -------------------------------------------------------- itch_convert

class ItchConvert(Workload):
    """The paper's pipeline: pcap capture -> read_pcap -> parse_packets ->
    encode_dataframe(partition_by=["message_type"]), then one appended
    capture segment and point reads by ``message_sequence``."""

    name = "itch_convert"
    idle_layers = ("owrc.scan_s",)
    key = "message_sequence"
    sort_keys = ["session", "pcap_index", "message_index"]
    partition_col = "message_type"

    def __init__(self, ctx: Ctx, warm: bool = False):
        """``warm``: the small inputs of the warm-up cycle."""
        super().__init__(ctx)
        self.base_msgs, self.segment_msgs = (
            (ITCH_WARM_BASE_MSGS, ITCH_WARM_SEGMENT_MSGS) if warm
            else (ITCH_BASE_MSGS, ITCH_SEGMENT_MSGS))
        d = os.path.join(ctx.work, "captures-warm" if warm else "captures")
        self.base_path = os.path.join(d, "base.pcap")
        self.segment_path = os.path.join(d, "segment.pcap")

    def setup(self) -> None:
        from omi_cpp_parquet_wide_record_spark import fixtures as FX
        d = os.path.dirname(self.base_path)
        os.makedirs(d, exist_ok=True)
        with open(self.base_path, "wb") as f:
            f.write(FX.pcap_capture(self.base_msgs, "nasdaq",
                                    self.ctx.seed))
        # the segment's seed differs from the base seed mod 1000, so the
        # segment carries its own session name
        with open(self.segment_path, "wb") as f:
            f.write(FX.pcap_capture(self.segment_msgs, "nasdaq",
                                    self.ctx.seed + 1))

    def release_setup(self) -> None:
        shutil.rmtree(os.path.dirname(self.base_path), ignore_errors=True)

    def convert_df(self, path: str):
        from omi_cpp_parquet_wide_record_spark.operators.wide_record import (
            parse_packets,
        )
        from omi_cpp_parquet_wide_record_spark.sources.pcap import read_pcap
        return parse_packets(read_pcap(self.ctx.spark, path), "nasdaq")

    def build_oracle(self) -> None:
        from omi_cpp_parquet_wide_record_spark import fixtures as FX
        with open(self.base_path, "rb") as f:
            self.base_capture = f.read()
        base = FX.reference_parse_pcap(self.base_capture, "nasdaq")
        with open(self.segment_path, "rb") as f:
            segment = FX.reference_parse_pcap(f.read(), "nasdaq")
        self._expected = {0: base, 1: pa.concat_tables([base, segment])}
        path = os.path.join(self.ctx.work, "golden.parquet")
        self.golden_bytes = FX.write_golden_parquet(base, path)
        os.remove(path)
        seqs = base.column("message_sequence").to_numpy()
        rng = np.random.default_rng([self.ctx.seed, 2])
        self.read_values = [int(v) for v in rng.choice(seqs, 2,
                                                        replace=False)]

    def bulk_input(self):
        return self.convert_df(self.base_path)

    def incremental_write(self, store: str):
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        with self.ctx.tracer.span("encode.append_job"):
            return encode_dataframe(self.convert_df(self.segment_path),
                                    store, resume=False,
                                    **self.encode_kwargs())

    def read_keys(self) -> list:
        return self.read_values


WORKLOADS = {w.name: w for w in (WebCdc, ItchConvert)}


def run_workload(ctx: Ctx, name: str, seconds: float) -> dict:
    """Set up, warm up and measure one workload; return its e2e values and
    the diagnostics that go beside them."""
    phase = ctx.phase
    # warm-up: one whole cycle on small inputs, whose numbers are dropped
    # (its ops still count and are checked), so the timed set-ups and
    # cycles run on started Python workers and a JVM that has loaded and
    # compiled every code path they take
    with phase("warmup"):
        warm = WORKLOADS[name](ctx, warm=True)
        warm.setup()
        warm.build_oracle()
        store = warm.cycle("warmup")
        if warm.bulk_results:
            warm.compact(store)
        shutil.rmtree(store, ignore_errors=True)
        warm.release_setup()
    ctx.samples.clear()
    ctx.layer.clear()
    ctx.tracer.spans.clear()
    wl = WORKLOADS[name](ctx)
    setup_s = []
    for _ in range(SETUP_REPEATS):
        wl.release_setup()
        t0 = time.perf_counter()
        wl.setup()
        setup_s.append(time.perf_counter() - t0)
    with phase("oracle"):
        wl.build_oracle()
    t_start = time.perf_counter()
    cycles, store, last = 0, None, 0.0
    # at least MIN_CYCLES; after that a cycle starts only if one as long as
    # the last still ends inside the window, so a run's length stays close
    # to the window on a slow box too
    while cycles < MIN_CYCLES or (time.perf_counter() - t_start + last
                                  <= seconds):
        t0 = time.perf_counter()
        store = wl.cycle(cycles)
        last = time.perf_counter() - t0
        cycles += 1
        if not wl.bulk_results:
            break          # the bulk write itself failed: nothing to scan
    window_s = time.perf_counter() - t_start
    wl.final_store = store
    if wl.bulk_results:
        # one compaction a run, on the last store; warm, as the warm-up
        # compacts too
        wl.compact(store)
        with phase("store_checks"):
            wl.store_checks(store)
    s = ctx.samples
    return {"workload": wl, "setup_s": setup_s, "cycles": cycles,
            "window_s": window_s, "store": store,
            "values": e2e_values(s, setup_s)}


def e2e_values(s: dict, setup_s: list[float]) -> dict:
    """End-to-end metric values (without peak RSS), plus the tails of the
    write and read latencies as diagnostics: a run holds too few samples
    for the highest percentile with 10 samples beyond it."""
    out = {"setup_s": median(setup_s)}
    for k in ("encode_mbps", "decode_mbps", "compression_ratio",
              "size_vs_reference", "compact_s"):
        if s.get(k):
            out[k] = median(s[k])
    for k in ("write", "read"):
        v = s.get(f"{k}_ms")
        if v:
            out[f"{k}_p50_ms"] = median(v)
            out[f"{k}_tail"] = tail(v)
    return out
