"""Operator probes for the traced run: each times public calls of one
layer on the workload's own data (its pending frontier, seen hashes,
extracted links, payloads and store rows), from outside the layer."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_webcrawler_spark.functions import urls as U
from distributed_webcrawler_spark.functions.robots_fn import gate_by_robots
from distributed_webcrawler_spark.operators import topk
from distributed_webcrawler_spark.operators.bloom import BloomFilter
from distributed_webcrawler_spark.operators.cuckoo import CuckooFilter
from distributed_webcrawler_spark.sources import codec, jpeg, webp
from distributed_webcrawler_spark.sources.store import SnapshotStore

from crawlbench.stats import median

REPS = 3


def timed(act, reps: int = REPS, make=None) -> float:
    """Median wall of ``reps`` calls; ``make()`` (untimed) builds a fresh
    argument for each call when the call mutates its input."""
    walls = []
    for _ in range(reps):
        args = (make(),) if make is not None else ()
        t = time.perf_counter()
        act(*args)
        walls.append(time.perf_counter() - t)
    return median(walls)


def noop_write(df: DataFrame) -> None:
    """Materialize every row and column of ``df`` without storing it."""
    df.write.format("noop").mode("overwrite").save()


def topk_probe(pending: DataFrame, k: int) -> dict[str, float]:
    """Per-host rank (literal and per-host budgets) and the global in-round
    sequence over the workload's pending frontier."""
    pending = pending.cache()
    n = pending.count()
    order = topk.tie_break_cols()
    group = ["session_id", "host"]
    rank_s = timed(lambda: noop_write(topk.topk_per_group(pending, group, order, k)))
    budgets = (pending.select("host").distinct()
               .select("host", (F.pmod(F.xxhash64("host"), F.lit(k)) + 1)
                       .cast("int").alias("budget")))
    budget_s = timed(lambda: noop_write(topk.topk_per_group_budget(
        pending, group, order, budgets, "host", k, max_budget=k)))
    ranked = topk.topk_per_group(pending, group, order, k).drop("rk").cache()
    ranked.count()

    def number():
        caches: list = []
        noop_write(topk.global_row_number(ranked, order, seq_col="sched_seq",
                                          cache_registry=caches))
        for c in caches:
            c.unpersist()

    grn_s = timed(number)
    ranked.unpersist()
    pending.unpersist()
    return {"topk.rank_rows_per_s": n / rank_s,
            "topk.budget_rank_rows_per_s": n / budget_s,
            "topk.global_row_number_s": grn_s}


def seen_probe(hashes: np.ndarray, expected: int, fpp: float,
               seed: int) -> tuple[dict[str, float], int]:
    """Bloom and cuckoo add / probe / delete rates over the workload's seen
    hashes, and each filter's false-positive rate observed on hashes known
    to be absent. Returns (metrics, false negatives seen)."""
    rng = np.random.default_rng(seed)
    absent = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                          size=max(100_000, 4 * len(hashes)), dtype=np.int64)
    absent = absent[~np.isin(absent, hashes)]
    n = len(hashes)

    def bloom():
        return BloomFilter.for_capacity(expected, fpp)

    def cuckoo():
        return CuckooFilter.for_capacity(expected)

    def filled(make):
        def build():
            f = make()
            f.add_many(hashes)
            return f
        return build

    bf, cf = filled(bloom)(), filled(cuckoo)()
    false_neg = int((~bf.might_contain_many(hashes)).sum()
                    + (~cf.might_contain_many(hashes)).sum())
    half = hashes[::2]
    metrics = {
        "seen.bloom_add_per_s": n / timed(lambda f: f.add_many(hashes), make=bloom),
        "seen.bloom_probe_per_s": n / timed(lambda: bf.might_contain_many(hashes)),
        "seen.cuckoo_add_per_s": n / timed(lambda f: f.add_many(hashes), make=cuckoo),
        "seen.cuckoo_probe_per_s": n / timed(lambda: cf.might_contain_many(hashes)),
        "seen.cuckoo_delete_per_s": len(half) / timed(
            lambda f: f.delete_many(half), make=filled(cuckoo)),
        "seen.bloom_observed_fpp": float(bf.might_contain_many(absent).mean()),
        "seen.cuckoo_observed_fpp": float(cf.might_contain_many(absent).mean()),
        "seen.fpp_base_probes": float(len(absent)),
    }
    return metrics, false_neg


def urls_probe(spark, pairs: pd.DataFrame) -> dict[str, float]:
    """The canonicalize batch called directly (Python compute only) versus
    the same rows through the Arrow pandas UDF in one task: the difference
    is the JVM<->Python transfer and task overhead."""
    n = len(pairs)
    compute_s = timed(lambda: U.resolve_canonicalize_batch(pairs["parent_url"],
                                                           pairs["href"]))
    df = spark.createDataFrame(pairs).coalesce(1).cache()
    df.count()
    fused = U.resolve_and_canonicalize_udf(False)
    udf_s = timed(lambda: noop_write(df.select(fused("parent_url", "href"))))
    df.unpersist()
    return {"urls.canonicalize_compute_rows_per_s": n / compute_s,
            "urls.canonicalize_udf_rows_per_s": n / udf_s,
            "urls.arrow_transfer_share": max(0.0, 1.0 - compute_s / udf_s)}


def robots_probe(rows: DataFrame, rules: DataFrame) -> dict[str, float]:
    rows = rows.cache()
    n = rows.count()
    s = timed(lambda: noop_write(gate_by_robots(rows, rules, U.url_path(F.col("url")))))
    rows.unpersist()
    return {"robots.gate_rows_per_s": n / s}


_REAL_ENCODERS = {
    "png": codec.encode_png,
    "jpeg": lambda px: jpeg.encode_jpeg(px, quality=95),
    "webp": webp.encode_webp_lossless,
}


def _error_class(blob: bytes) -> str | None:
    try:
        codec.decode_image(blob)
    except jpeg.JpegError:
        return "jpeg"
    except webp.WebpError:
        return "webp"
    except codec.CodecError:
        return "codec"
    except Exception:  # noqa: BLE001 - any other escape is the finding
        return "escaped"
    return None


def codec_probe(blobs: list[bytes], seed: int, per_format: int = 6) -> dict[str, float]:
    """Decode throughput on the workload's payloads, per-format decode rates
    on the same pixels re-encoded as real PNG / baseline JPEG / lossless
    WebP, phash rate, and decode errors by class on seeded corruptions of
    the real streams. ``codec.errors_escaped`` counts failures that are not
    a CodecError — each would fail a whole Spark task in a crawl."""
    t = time.perf_counter()
    pixels = [codec.decode_image(b)[0] for b in blobs]
    decode_s = time.perf_counter() - t
    mb = sum(len(b) for b in blobs) / (1024 * 1024)
    phash_s = timed(lambda: [codec.phash64(px) for px in pixels])
    metrics = {"codec.decode_mb_per_s": mb / decode_s,
               "codec.phash_per_s": len(pixels) / phash_s}
    rng = np.random.default_rng(seed)
    errors = {"codec": 0, "jpeg": 0, "webp": 0, "escaped": 0}
    sample = pixels[:per_format]
    for fmt, enc in _REAL_ENCODERS.items():
        real = [enc(px) for px in sample]
        s = timed(lambda: [codec.decode_image(b) for b in real], reps=1)
        metrics[f"codec.decode_{fmt}_imgs_per_s"] = len(real) / s
        for b in real:
            cut = b[: int(rng.integers(9, len(b)))]
            flipped = bytearray(b)
            for pos in rng.integers(9, len(b), size=4):
                flipped[pos] ^= 0xFF
            for bad in (cut, bytes(flipped)):
                cls = _error_class(bad)
                if cls is not None:
                    errors[cls] += 1
    metrics.update({f"codec.errors_{c}": float(n) for c, n in errors.items()})
    return metrics


def store_probe(spark, rows: DataFrame, root: str) -> dict[str, float]:
    """Append, checkpoint, rollback and compaction of a scratch table
    holding the workload's frontier rows."""
    rows = rows.cache()
    rows.count()
    store = SnapshotStore(root)
    tbl = store.table("probe")
    append_s = timed(lambda: tbl.append_counted(rows))
    ckpt = {"round": 1, "tables": {"probe": tbl.snapshot_id()}}
    checkpoint_s = timed(lambda: store.write_checkpoint(ckpt))

    def grow():
        tbl.append_counted(rows)

    rollback_s = timed(lambda _: store.rollback_to_checkpoint(ckpt), make=grow)
    compact_s = timed(lambda: tbl.overwrite_compacted(tbl.read(spark)))
    rows.unpersist()
    return {"store.append_s": append_s, "store.checkpoint_s": checkpoint_s,
            "store.rollback_s": rollback_s, "store.compact_s": compact_s}
