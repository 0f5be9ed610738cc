"""Per-layer measurement for the traced run.

Layers that run in the Spark driver process are timed by wrapping their
public entry points for the duration of the traced run (`driver_wrappers`).
Executor-side layers (selector, codecs, chunk read, pcap framing, ITCH
parse) run inside Spark tasks, out of the benchmark process's sight, so
they are replayed in-process through their public functions over the same
run's inputs and chunk files (`replay_layers`). Layers a workload does not
exercise report 0.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from benchlib import median

CODECS = ["dict", "rle", "fsst", "fsst2", "bitpack", "for", "delta", "plain"]
# replay cost bounds: enough chunk files to be representative, few enough
# that the traced run stays inside its time budget
REPLAY_MAX_FILES = 24
REPLAY_REPEATS = 3


@contextlib.contextmanager
def driver_wrappers(ctx):
    """Wrap ChunkStore.commit / manifest_table and decode.prune_files with
    spans and timing samples; restore them on exit."""
    from omi_cpp_parquet_wide_record_spark.operators import decode as D
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore

    orig_commit = ChunkStore.commit
    orig_manifest = ChunkStore.manifest_table
    orig_prune = D.prune_files
    tr, layer = ctx.tracer, ctx.layer

    def commit(self, *a, **kw):
        with tr.span("snapshot.commit"):
            t0 = time.perf_counter()
            out = orig_commit(self, *a, **kw)
            layer["snapshot.commit_ms"].append(
                (time.perf_counter() - t0) * 1e3)
        return out

    def manifest_table(self, *a, **kw):
        with tr.span("snapshot.manifest_load"):
            t0 = time.perf_counter()
            out = orig_manifest(self, *a, **kw)
            layer["snapshot.manifest_load_ms"].append(
                (time.perf_counter() - t0) * 1e3)
        return out

    def prune_files(manifest, filters):
        with tr.span("decode.prune"):
            t0 = time.perf_counter()
            files = orig_prune(manifest, filters)
            layer["decode.prune_ms"].append((time.perf_counter() - t0) * 1e3)
        considered = len(pc.unique(manifest.column("chunk_file")))
        layer["decode.files_opened_frac"].append(
            len(files) / considered if considered else 0.0)
        if "commit_n" in manifest.schema.names and files:
            # decode_store scans one branch per commit epoch of the
            # surviving files when sequence-scoped deletes exist
            m = manifest.filter(pc.is_in(manifest.column("chunk_file"),
                                         value_set=pa.array(files)))
            layer["decode.epoch_branches"].append(
                len(pc.unique(m.column("commit_n"))))
        else:
            layer["decode.epoch_branches"].append(1)
        return files

    ChunkStore.commit = commit
    ChunkStore.manifest_table = manifest_table
    D.prune_files = prune_files
    try:
        yield
    finally:
        ChunkStore.commit = orig_commit
        ChunkStore.manifest_table = orig_manifest
        D.prune_files = orig_prune


def _best_of(fn, repeats: int = REPLAY_REPEATS) -> tuple[object, float]:
    out, best = None, float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return out, best


def _transfer_floor(ctx, wl) -> float:
    """No-op mapInArrow over the same pid exchange the bulk encode makes:
    the JVM->Python transfer cost with no kernel work. Mirrors
    encode_dataframe's default routing (pid_expr, then an exact pid ->
    task mapping in the few-pids regime)."""
    from pyspark.sql import functions as F

    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        PID_COL, _exact_partition_key, pid_expr,
    )
    dp = ctx.spark.sparkContext.defaultParallelism
    # encode_dataframe's defaults where the workload sets nothing
    kw = wl.encode_kwargs()
    num_pids = kw.get("num_pids", max(dp * 8, 8))
    work = wl.bulk_input().withColumn(PID_COL, pid_expr(
        kw["partition_by"], kw.get("salt_key"), num_pids, kw.get("salt", 64)))
    if num_pids <= max(dp * 4, 8) * 4:
        num_tasks = min(num_pids, max(dp * 2, -(-num_pids // 2)))
        work = work.repartition(num_tasks, _exact_partition_key(num_tasks))
    else:
        work = work.repartition(max(dp * 4, 8), F.col(PID_COL))

    def task(batches):
        n = 0
        for b in batches:
            n += b.num_rows
        yield pa.RecordBatch.from_arrays([pa.array([n], type=pa.int64())],
                                         names=["n"])

    with ctx.tracer.span("encode.transfer_floor"):
        _, best = _best_of(lambda: work.mapInArrow(task, "n long")
                           .agg(F.sum("n")).collect(), 2)
    return best


def _chunk_groups(store: str, files: list[str], col: str) -> dict:
    """chunk file -> the partition value of its first row (the value the
    encoder keys its codec plan on)."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        read_chunk_file,
    )
    chunks = os.path.join(store, "chunks")
    return {f: read_chunk_file(os.path.join(chunks, f), columns=[col])
            .column(col)[0].as_py() for f in files}


def replay_layers(ctx, wl) -> dict:
    """Replay the executor-side layers over this run's last bulk store and
    inputs; return their metric values."""
    from omi_cpp_parquet_wide_record_spark.codecs import encode_column
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        read_chunk_file, read_chunk_table,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    from omi_cpp_parquet_wide_record_spark.selector import choose_codec

    tr = ctx.tracer
    out: dict[str, float] = {}
    store, res = wl.bulk_results[-1]
    cs = ChunkStore(store)
    bulk = cs.manifest_table(res.snapshot)
    chunks_dir = cs.chunks_dir

    # encode: pid layout of the bulk write
    out["encode.pids"] = res.pids_encoded
    files = sorted(set(bulk.column("chunk_file").to_pylist()))
    out["encode.chunks"] = len(files)
    first = bulk.column("column")[0].as_py()
    per_pid = bulk.filter(pc.equal(bulk.column("column"), first)) \
        .group_by("pid").aggregate([("rows", "sum")]).column("rows_sum")
    rows = per_pid.to_numpy()
    out["encode.pid_rows_max_over_mean"] = float(rows.max() / rows.mean())
    out["encode.transfer_floor_s"] = _transfer_floor(ctx, wl)

    for name in wl.idle_layers:
        out[name] = 0.0
    # sources.pcap + operators.wide_record (itch_convert only)
    if wl.name == "itch_convert":
        from omi_cpp_parquet_wide_record_spark.operators.wide_record import (
            parse_packets_batch,
        )
        from omi_cpp_parquet_wide_record_spark.sources.pcap import (
            packets_from_capture,
        )
        cap = wl.base_capture
        with tr.span("pcap.frame"):
            packets, dt = _best_of(lambda: packets_from_capture(cap))
        out["pcap.frame_mbps"] = len(cap) / 1e6 / dt
        batch = packets.combine_chunks().to_batches()[0]
        with tr.span("wide_record.parse"):
            _, dt = _best_of(lambda: parse_packets_batch(batch, "nasdaq"))
        out["wide_record.parse_mbps"] = batch.nbytes / 1e6 / dt

    # selector: the encoder runs one trial selection per (partition
    # value of a chunk's first row, column), on that chunk's column;
    # replay it on the first chunk of each value and compare the estimate
    # with the bulk manifest's actual ratio over all chunks of the value
    file_group = _chunk_groups(store, files, wl.partition_col)
    gcol = pa.array([file_group[f] for f in
                     bulk.column("chunk_file").to_pylist()])
    actual = pa.table({"g": gcol, "column": bulk.column("column"),
                       "bi": bulk.column("bytes_in"),
                       "bo": bulk.column("bytes_out")}) \
        .group_by(["g", "column"]).aggregate([("bi", "sum"), ("bo", "sum")])
    actual_ratio = {(g, c): bi / bo if bo else None for g, c, bi, bo in zip(
        *(actual.column(n).to_pylist()
          for n in ("g", "column", "bi_sum", "bo_sum")))}
    first_file: dict = {}
    for f in files:
        first_file.setdefault(file_group[f], f)
    errors, trial_s = [], 0.0
    with tr.span("selector.trials"):
        for g, f in first_file.items():
            t = read_chunk_file(os.path.join(chunks_dir, f))
            for name in t.schema.names:
                arr = t.column(name).combine_chunks()
                t0 = time.perf_counter()
                choice = choose_codec(arr)
                trial_s += time.perf_counter() - t0
                a = actual_ratio.get((g, name))
                if a:
                    errors.append(abs(choice.est_ratio / a - 1.0))
    out["selector.trial_s"] = trial_s
    out["selector.est_error"] = float(np.mean(errors)) if errors else 0.0

    # codecs: decode each recorded chunk column and re-encode it with its
    # recorded codec, over a bounded, evenly spread subset of chunk files
    pick = files[::max(1, -(-len(files) // REPLAY_MAX_FILES))]
    m = bulk.filter(pc.is_in(bulk.column("chunk_file"),
                             value_set=pa.array(pick)))
    stats = {c: [0, 0.0, 0.0] for c in CODECS}   # bytes_in, enc s, dec s
    with tr.span("codecs.replay"):
        for f, col, codec, bi in zip(*(m.column(n).to_pylist() for n in (
                "chunk_file", "column", "codec", "bytes_in"))):
            path = os.path.join(chunks_dir, f)
            t0 = time.perf_counter()
            arr = read_chunk_file(path, columns=[col]).column(col) \
                .combine_chunks()
            t1 = time.perf_counter()
            encode_column(arr, codec)
            t2 = time.perf_counter()
            s = stats.setdefault(codec, [0, 0.0, 0.0])
            s[0] += bi
            s[1] += t2 - t1
            s[2] += t1 - t0
    total_out = pc.sum(bulk.column("bytes_out")).as_py() or 1
    out_by_codec = dict(zip(*(bulk.group_by("codec").aggregate(
        [("bytes_out", "sum")]).column(n).to_pylist()
        for n in ("codec", "bytes_out_sum"))))
    for c in CODECS:
        bi, enc_s, dec_s = stats[c]
        out[f"codecs.{c}.encode_mbps"] = bi / 1e6 / enc_s if enc_s else 0.0
        out[f"codecs.{c}.decode_mbps"] = bi / 1e6 / dec_s if dec_s else 0.0
        out[f"codecs.{c}.bytes_share"] = out_by_codec.get(c, 0) / total_out

    # operators.decode chunk read over the final (compacted) store
    final = ChunkStore(wl.final_store)
    snap = final.current_snapshot()
    schema = final.arrow_schema(snap)
    aliases = ChunkStore.alias_map(snap)
    live = sorted(set(final.manifest_table(snap).column("chunk_file")
                      .to_pylist()))

    def read_all():
        return sum(read_chunk_table(os.path.join(final.chunks_dir, f),
                                    schema, aliases).nbytes for f in live)

    with tr.span("decode.chunk_read"):
        nbytes, dt = _best_of(read_all, 2)
    out["decode.chunk_read_mbps"] = nbytes / 1e6 / dt
    return out


def layer_values(ctx, replayed: dict) -> dict:
    """Per-layer metric values: medians of the samples taken in the Spark
    driver process plus the replayed executor-side numbers."""
    out = dict(replayed)
    for k, v in ctx.layer.items():
        out[k] = median(v) if k not in (
            "decode.files_opened_frac", "decode.epoch_branches") \
            else float(np.mean(v))
    return out
