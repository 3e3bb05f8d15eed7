"""The benchmark's workloads: set-up, one timed operation, and checks.

Every call into a program layer is wrapped in a span named after the
layer function (`datagen.generate_transcripts`, `pipeline.encode_table`,
...). Operation spans (`op.<kind>`) group the calls of one timed
operation; `bench.setup` and `bench.verify` are the benchmark's own.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
KEYS = ("conv_id", "turn_idx")


@dataclass
class Op:
    """One attempted operation: its kind, wall seconds and whether its
    check passed."""
    kind: str
    seconds: float
    ok: bool


@dataclass
class Ctx:
    """What a workload uses from the run: the Spark session, the span
    recorder, a scratch directory, the seed and the core count; it
    collects the messages of failed checks."""
    spark: object
    tracer: object
    work: str
    seed: int
    cores: int
    errors: list = field(default_factory=list)
    _n: int = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def span(self, name: str):
        return self.tracer.span(name)

    def fail(self, msg: str) -> bool:
        self.errors.append(msg)
        return False


# --- shared helpers -------------------------------------------------------

def write_source(ctx: Ctx, n_convs: int) -> tuple[str, int]:
    """Seeded transcripts written once as parquet; returns (dir, turns)."""
    from supersonic_spark.datagen import conv_length, generate_transcripts
    path = ctx.fresh("src")
    with ctx.span("datagen.generate_transcripts"):
        generate_transcripts(ctx.spark, n_convs=n_convs, seed=ctx.seed,
                             parallelism=1).write.parquet(path)
    n_turns = int(conv_length(np.arange(n_convs), ctx.seed).sum())
    return path, n_turns


def roundtrip_mismatches(spark, src_dir: str, dec) -> int:
    """Rows missing on either side or differing in any column, matched on
    (conv_id, turn_idx)."""
    from pyspark.sql import functions as F
    src = spark.read.parquet(src_dir)
    a = src.select(*[F.col(c).alias(f"a_{c}") for c in COLUMNS])
    b = dec.select(*[F.col(c).alias(f"b_{c}") for c in COLUMNS])
    cond = [F.col(f"a_{k}") == F.col(f"b_{k}") for k in KEYS]
    same = None
    for c in COLUMNS:
        eq = F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
        same = eq if same is None else same & eq
    return a.join(b, cond, "full_outer").filter(~same).count()


def normalized(tbl: pa.Table) -> pa.Table:
    """Transcript rows in key order with ts as int64 µs, for exact
    comparison between Arrow tables from different sources."""
    cols = {}
    for c in COLUMNS:
        col = tbl.column(c)
        if c == "ts":
            col = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
        cols[c] = col
    return pa.table(cols).sort_by([(k, "ascending") for k in KEYS])


def manifest(out_dir: str) -> pa.Table:
    return pq.read_table(os.path.join(out_dir, "manifest"))


def manifest_signature(out_dir: str) -> list:
    m = manifest(out_dir).select(["partition_id", "chunk_id", "column",
                                  "crc32", "bytes_out"])
    return sorted(zip(*[m.column(c).to_pylist() for c in m.column_names]))


def table_stats(out_dir: str) -> dict:
    """Stored bytes and partition skew of one encoded table."""
    blk = os.path.join(out_dir, "blocks")
    files = [os.path.join(blk, p) for p in os.listdir(blk)
             if p.endswith(".ssb")]
    mdir = os.path.join(out_dir, "manifest")
    mbytes = sum(os.path.getsize(os.path.join(mdir, p))
                 for p in os.listdir(mdir) if p.endswith(".parquet"))
    mbytes += os.path.getsize(os.path.join(out_dir, "meta.json"))
    m = manifest(out_dir).to_pydict()
    rows: dict[int, int] = {}
    for pid, col, n in zip(m["partition_id"], m["column"], m["n_rows"]):
        if col == "conv_id":
            rows[pid] = rows.get(pid, 0) + n
    per_part = sorted(rows.values())
    return {
        "io.block_bytes": sum(os.path.getsize(f) for f in files),
        "io.block_files": len(files),
        "io.manifest_bytes": mbytes,
        "pipeline.chunks": len({(p, c) for p, c in
                                zip(m["partition_id"], m["chunk_id"])}),
        "pipeline.partition_skew": (per_part[-1]
                                    / statistics.median(per_part)
                                    if per_part else 0.0),
    }


def encode_counts(out_dir: str) -> tuple[int, int, int]:
    """(chunks re-encoded, chunks resumed, turns re-encoded) of the last
    encode into out_dir, from the manifest's `resumed` flag."""
    m = manifest(out_dir).to_pydict()
    fresh = resumed = turns = 0
    for col, res, n in zip(m["column"], m["resumed"], m["n_rows"]):
        if col != "conv_id":
            continue
        if res:
            resumed += 1
        else:
            fresh += 1
            turns += n
    return fresh, resumed, turns


def reference_bytes(table_dir: str) -> int:
    from supersonic_spark.codecs import reference_table_size
    tbl = pq.read_table(table_dir).select(list(COLUMNS))
    return reference_table_size(tbl)


def size_metrics(out_dir: str, table_dir: str, n_turns: int) -> dict:
    st = table_stats(out_dir)
    return {
        "bytes_per_turn": (st["io.block_bytes"] + st["io.manifest_bytes"])
        / n_turns,
        "size_vs_reference": st["io.block_bytes"]
        / reference_bytes(table_dir),
    }, st


def timed(ctx: Ctx, kind: str, fn):
    t0 = time.perf_counter()
    with ctx.span(f"op.{kind}"):
        out = fn()
    return time.perf_counter() - t0, out


def lookup(ctx: Ctx, out_dir: str, key: str) -> pa.Table:
    from supersonic_spark.pipeline import decode_table
    with ctx.span("pipeline.decode_table"):
        df = decode_table(ctx.spark, out_dir, predicate=("conv_id", key, key))
    with ctx.span("pipeline.decode_scan"):
        return df.toArrow()


def conv_rows(idx: int, seed: int) -> pa.Table:
    from supersonic_spark.datagen import generate_conv_batch
    return generate_conv_batch(np.array([idx], dtype=np.int64), seed)


def conv_key(idx: int) -> str:
    return f"conv-{idx:09d}"


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# --- workloads ------------------------------------------------------------

class Ingest:
    """Encode one seeded table through both write paths per step."""

    name = "ingest"
    n_convs = 6000       # 97,810 turns at seed 1
    n_buckets = 8

    def setup(self, ctx: Ctx) -> dict:
        from supersonic_spark.pipeline import bucketize_table
        src, n_turns = write_source(ctx, self.n_convs)
        bdir = ctx.fresh("buckets")
        with ctx.span("pipeline.bucketize_table"):
            bucketize_table(ctx.spark, ctx.spark.read.parquet(src), bdir,
                            n_buckets=self.n_buckets)
        return {"src": src, "buckets": bdir, "n_turns": n_turns,
                "sig": {}, "last": {}, "chunks_encoded": 0}

    def _encode(self, ctx: Ctx, st: dict, kind: str, out: str) -> None:
        from supersonic_spark.pipeline import (EncodeConfig, encode_table,
                                               encode_table_prebucketed)
        if kind == "encode":
            with ctx.span("pipeline.encode_table"):
                encode_table(ctx.spark, ctx.spark.read.parquet(st["src"]),
                             out, EncodeConfig(n_partitions=2 * ctx.cores),
                             fingerprint="perfbench")
        else:
            with ctx.span("pipeline.encode_table_prebucketed"):
                encode_table_prebucketed(ctx.spark, st["buckets"], out,
                                         EncodeConfig(),
                                         fingerprint="perfbench")

    def _check(self, ctx: Ctx, st: dict, kind: str, out: str) -> bool:
        """Full all-column round trip for the first output of each path;
        later outputs must be byte-identical to it (manifest crc32 and
        sizes per chunk-column), else they get the full check too."""
        from supersonic_spark.pipeline import decode_table
        sig = manifest_signature(out)
        if st["sig"].get(kind) == sig:
            return True
        with ctx.span("bench.verify"):
            bad = roundtrip_mismatches(ctx.spark, st["src"],
                                       decode_table(ctx.spark, out))
        if bad:
            return ctx.fail(f"{kind}: {bad} rows differ after round trip")
        st["sig"].setdefault(kind, sig)
        return True

    def step(self, ctx: Ctx, st: dict, i: int) -> list[Op]:
        ops = []
        for kind in ("encode", "encode_pb"):
            out = ctx.fresh(kind)
            dt, _ = timed(ctx, kind,
                          lambda: self._encode(ctx, st, kind, out))
            ok = self._check(ctx, st, kind, out)
            ops.append(Op(kind, dt, ok))
            st["chunks_encoded"] += encode_counts(out)[0]
            old = st["last"].get(kind)
            if old:
                shutil.rmtree(old, ignore_errors=True)
            st["last"][kind] = out
        return ops

    @staticmethod
    def latencies(ops: list[Op]) -> list[float]:
        """One ingest = the same table through both encode paths."""
        enc = [o.seconds for o in ops if o.kind == "encode"]
        pb = [o.seconds for o in ops if o.kind == "encode_pb"]
        return [a + b for a, b in zip(enc, pb)]

    def warm(self, ctx: Ctx, st: dict) -> list[Op]:
        """One untimed step; its outputs get the full check."""
        return self.step(ctx, st, 0)

    def verify(self, ctx: Ctx, st: dict) -> list[str]:
        return []      # every output was checked in step()

    def summary(self, ctx: Ctx, st: dict, ops: list[Op]) -> tuple:
        n = st["n_turns"]
        enc = median([o.seconds for o in ops if o.kind == "encode"])
        pb = median([o.seconds for o in ops if o.kind == "encode_pb"])
        sizes, tstats = size_metrics(st["last"]["encode"], st["src"], n)
        pb_sizes, _ = size_metrics(st["last"]["encode_pb"], st["src"], n)
        e2e = {"turns_per_s": 2 * n / (enc + pb), **sizes}
        detail = {
            "encode_turns_per_s": (n / enc, "turns/s"),
            "encode_pb_turns_per_s": (n / pb, "turns/s"),
            "bytes_per_turn": (sizes["bytes_per_turn"], "bytes"),
            "size_vs_reference": (sizes["size_vs_reference"], "ratio"),
            "pb_bytes_per_turn": (pb_sizes["bytes_per_turn"], "bytes"),
            "pb_size_vs_reference": (pb_sizes["size_vs_reference"],
                                     "ratio"),
            "turns": (n, "count"),
        }
        layer = {**tstats, "pipeline.chunks_reencoded": st["chunks_encoded"],
                 "pipeline.chunks_resumed": 0}
        return e2e, detail, layer

    def cleanup(self, st: dict) -> None:
        for d in [st["src"], st["buckets"], *st["last"].values()]:
            shutil.rmtree(d, ignore_errors=True)


class Maintain:
    """Merge one upsert and one delete into a bucketed table, encode it
    incrementally, then read the upserted conversation back."""

    name = "maintain"
    n_convs = 3000       # 48,732 turns at seed 1
    n_buckets = 8

    def setup(self, ctx: Ctx) -> dict:
        from supersonic_spark.pipeline import (EncodeConfig, bucketize_table,
                                               encode_table_prebucketed)
        from supersonic_spark.datagen import conv_length
        src, n_turns = write_source(ctx, self.n_convs)
        bdir = ctx.fresh("buckets")
        with ctx.span("pipeline.bucketize_table"):
            bucketize_table(ctx.spark, ctx.spark.read.parquet(src), bdir,
                            n_buckets=self.n_buckets)
        out = ctx.fresh("enc")
        cfg = EncodeConfig(bloom_cols=("conv_id",))
        with ctx.span("pipeline.encode_table_prebucketed"):
            encode_table_prebucketed(ctx.spark, bdir, out, cfg,
                                     fingerprint="perfbench")
        shutil.rmtree(src, ignore_errors=True)
        rng = np.random.default_rng(ctx.seed)
        return {"buckets": bdir, "enc": out, "cfg": cfg, "n_turns": n_turns,
                "order": rng.permutation(self.n_convs), "next": 0,
                "new_idx": self.n_convs, "deleted": [],
                "lens": lambda idx: int(conv_length(np.array([idx]),
                                                    ctx.seed)[0]),
                "reencoded": 0, "changed": 0, "chunks": [0, 0],
                "lookup_s": []}

    def _changes(self, ctx: Ctx, st: dict, cycle: int):
        """One upsert and one delete, each of a conversation no earlier
        cycle touched: even cycles give an existing conversation new
        content under the same id, odd cycles insert a new one."""
        pick = st["order"][st["next"]:st["next"] + 2]
        st["next"] += 2
        target, gone = int(pick[0]), int(pick[1])
        if cycle % 2 == 0:
            rows = conv_rows(target, ctx.seed + 1000 + cycle)
            old = st["lens"](target)
        else:
            target, old = st["new_idx"], 0
            st["new_idx"] += 1
            rows = conv_rows(target, ctx.seed)
        upsert = rows.append_column("_op",
                                    pa.array(["upsert"] * rows.num_rows))
        dele = conv_rows(gone, ctx.seed).slice(0, 1).append_column(
            "_op", pa.array(["delete"]))
        st["deleted"].append(conv_key(gone))
        st["n_turns"] += rows.num_rows - old - st["lens"](gone)
        st["changed"] += rows.num_rows + st["lens"](gone)
        return pa.concat_tables([upsert, dele]), target, rows

    def step(self, ctx: Ctx, st: dict, i: int) -> list[Op]:
        from supersonic_spark.pipeline import (encode_table_prebucketed,
                                               merge_bucketized)
        changes, probe_idx, probe_rows = self._changes(ctx, st, i)

        def cycle():
            with ctx.span("pipeline.merge_bucketized"):
                merge_bucketized(ctx.spark,
                                 ctx.spark.createDataFrame(changes),
                                 st["buckets"])
            with ctx.span("pipeline.encode_table_prebucketed"):
                encode_table_prebucketed(ctx.spark, st["buckets"], st["enc"],
                                         st["cfg"], fingerprint="perfbench")
            t0 = time.perf_counter()
            got = lookup(ctx, st["enc"], conv_key(probe_idx))
            st["lookup_s"].append(time.perf_counter() - t0)
            return got

        dt, got = timed(ctx, "cycle", cycle)
        fresh, resumed, turns = encode_counts(st["enc"])
        st["reencoded"] += turns
        st["chunks"][0] += fresh
        st["chunks"][1] += resumed
        ok = normalized(got).equals(normalized(probe_rows)) or ctx.fail(
            f"cycle {i}: {conv_key(probe_idx)} does not read back its "
            "merged content")
        return [Op("cycle", dt, ok)]

    def warm(self, ctx: Ctx, st: dict) -> list[Op]:
        return self.step(ctx, st, 0)

    @staticmethod
    def latencies(ops: list[Op]) -> list[float]:
        return [o.seconds for o in ops if o.kind == "cycle"]

    def verify(self, ctx: Ctx, st: dict) -> list[str]:
        """Whole-table turn count after every merge, and no row left of
        any deleted conversation."""
        from pyspark.sql import functions as F
        from supersonic_spark.pipeline import decode_table
        errs = []
        with ctx.span("bench.verify"):
            ids = decode_table(ctx.spark, st["enc"], columns=["conv_id"])
            r = ids.agg(F.count("*").alias("n"),
                        F.count_if(F.col("conv_id").isin(st["deleted"]))
                        .alias("left")).collect()[0]
            if r["n"] != st["n_turns"]:
                errs.append(f"table holds {r['n']} turns, expected "
                            f"{st['n_turns']}")
            if r["left"]:
                errs.append(f"{r['left']} rows of deleted conversations "
                            "remain")
        return errs

    def summary(self, ctx: Ctx, st: dict, ops: list[Op]) -> tuple:
        cycle_s = [o.seconds for o in ops if o.kind == "cycle"]
        sizes, tstats = size_metrics(st["enc"], st["buckets"], st["n_turns"])
        # turns kept current per second: the table's size over the median
        # cycle (turns re-encoded per cycle depend on which buckets the
        # seed's changes land in, too uneven to gate on)
        e2e = {"turns_per_s": st["n_turns"] / median(cycle_s), **sizes}
        tail, tail_pct = tail_of(cycle_s)
        detail = {
            "maintain_cycle_p50_s": (median(cycle_s), "s"),
            "maintain_cycle_tail_s": (tail, "s"),
            "maintain_cycle_tail_percentile": (tail_pct, "%"),
            "rewrite_amplification": (st["reencoded"]
                                      / max(st["changed"], 1), "ratio"),
            "lookup_p50_s": (median(st["lookup_s"]), "s"),
            "cycles": (len(cycle_s), "count"),
            "turns": (st["n_turns"], "count"),
        }
        return e2e, detail, {**tstats,
                             "pipeline.chunks_reencoded": st["chunks"][0],
                             "pipeline.chunks_resumed": st["chunks"][1]}

    def cleanup(self, st: dict) -> None:
        for d in (st["buckets"], st["enc"]):
            shutil.rmtree(d, ignore_errors=True)


def tail_of(xs: list[float]) -> tuple[float, float]:
    """The highest nearest-rank percentile with at least ten samples
    beyond it, and that percentile; the maximum (percentile 100) when
    there are too few samples for one."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100.0
    k = len(s) - 11          # index with exactly ten samples above it
    return s[k], round(100.0 * (k + 1) / len(s), 1)


WORKLOADS = {w.name: w for w in (Ingest, Maintain)}
