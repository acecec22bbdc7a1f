"""Deterministic synthetic web fixtures (FIXTURES.md): payloads (image +
caption), web_graph (stands in for HTTP fetch + link extraction), robots,
seeds. Everything derives from hashes of stable ids — no RNG state, no
wall clock — so any scale factor regenerates bit-identically and the
oracle simulator can replay the exact same "web" from the parquet output.

Generation is Spark-native (spark.range + column exprs; the only Python is
the Arrow-batched image encoder), so fixture size scales with the cluster,
not the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.batches import map_rows
from . import codec

ZIPF_S = 3.0  # host-size skew: host_id = floor(n_hosts * u^s); s=3 -> hot host 0


def _host_id_expr(id_expr: str, n_hosts: int) -> str:
    """Inline SQL expr mapping a url id -> its host id (shared by the main
    column and the out_link targets so the graph is consistent)."""
    frac = f"(pmod(xxhash64(concat('h', cast({id_expr} as string))), 1000000) / 1000000.0)"
    return f"cast(floor({n_hosts} * pow({frac}, {ZIPF_S})) as int)"


def _url_expr(id_expr: str, n_hosts: int) -> str:
    return (f"concat('https://host', cast({_host_id_expr(id_expr, n_hosts)} as string),"
            f" '.example.test/p/', cast({id_expr} as string))")


def gen_web_graph(spark: SparkSession, n_urls: int, n_hosts: int, n_images: int,
                  max_out_degree: int = 12) -> DataFrame:
    """Columns: url, host, out_links array<string>, image_id, status_code.

    out_links mixes absolute links, relative paths (resolved by the
    canonicalizer), fragment-bearing links, and invalid-per-regex shapes
    (ports, localhost, ftp) — the edge cases the reference's log shows
    (logs/webcrawler.log 00:32:17.768-17.784)."""
    df = spark.range(n_urls).withColumnRenamed("id", "uid")
    tgt = f"pmod(xxhash64(concat(cast(uid as string), ':', cast(j as string))), {n_urls})"
    shape = f"pmod(xxhash64(concat('s', cast(uid as string), ':', cast(j as string))), 12)"
    link = f"""
      CASE {shape}
        WHEN 0 THEN concat('/p/', cast({tgt} as string))
        WHEN 1 THEN concat('p/', cast({tgt} as string))
        WHEN 2 THEN concat({_url_expr(tgt, n_hosts)}, '#frag')
        WHEN 3 THEN 'https://localhost:8080/admin'
        WHEN 4 THEN concat('ftp://host0.example.test/f/', cast(j as string))
        ELSE {_url_expr(tgt, n_hosts)}
      END"""
    out_deg = f"pmod(xxhash64(concat('d', cast(uid as string))), {max_out_degree + 1})"
    return df.select(
        F.expr(_url_expr("uid", n_hosts)).alias("url"),
        F.expr(f"concat('host', cast({_host_id_expr('uid', n_hosts)} as string), '.example.test')").alias("host"),
        F.expr(f"transform(sequence(1, {out_deg}), j -> {link})").alias("out_links"),
        F.expr(
            f"CASE WHEN pmod(xxhash64(concat('i', cast(uid as string))), 10) = 0 THEN NULL "
            f"ELSE concat('img-', lpad(cast(pmod(xxhash64(concat('i', cast(uid as string))), {n_images}) as string), 8, '0')) END"
        ).alias("image_id"),
        F.expr(
            "CASE pmod(xxhash64(concat('c', cast(uid as string))), 20) "
            "WHEN 0 THEN 404 WHEN 1 THEN 500 WHEN 2 THEN 0 ELSE 200 END"
        ).cast("int").alias("status_code"),
    )


PAYLOAD_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
                  "caption string, phash long")


def gen_payloads(spark: SparkSession, n_images: int,
                 min_px: int = 16, px_range: int = 33) -> DataFrame:
    """The BASELINE.json input_hint table, exact column shape:
    (image_id, bytes, w, h, fmt, caption, phash). Dimensions are uniform in
    [min_px, min_px + px_range): tests keep the tiny default; the scaling
    bench passes realistic sizes so decode cost per URL matches a real
    crawl (a 16px thumbnail under-weights the stage that dominates)."""
    base = spark.range(n_images).select(
        F.expr("concat('img-', lpad(cast(id as string), 8, '0'))").alias("image_id"),
        (F.pmod(F.xxhash64(F.concat(F.lit("w"), F.col("id"))), F.lit(px_range)) + min_px).cast("int").alias("w"),
        (F.pmod(F.xxhash64(F.concat(F.lit("hh"), F.col("id"))), F.lit(px_range)) + min_px).cast("int").alias("h"),
        F.expr("CASE pmod(id, 3) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END").alias("fmt"),
        F.expr(
            "CASE WHEN pmod(id, 17) = 0 THEN '' "
            "WHEN pmod(id, 17) = 1 THEN concat('длинная подпись 图片 ', repeat('lorem ipsum ', 100), cast(id as string)) "
            "ELSE concat('caption for image ', cast(id as string), ' — синтетика 合成 #', cast(pmod(id, 97) as string)) END"
        ).alias("caption"),
    )

    def encode(iid, w, h, fmt, caption):
        px = codec.synth_pixels(iid, int(w), int(h))
        return [(iid, codec.encode_image(px, fmt), w, h, fmt, caption, codec.phash64(px))]

    return map_rows(base, encode, PAYLOAD_SCHEMA)


def gen_robots(spark: SparkSession, n_hosts: int) -> DataFrame:
    """Per-host robots.txt variants: missing (no row), empty (allow all),
    plain disallow, Allow-overrides-Disallow, garbage, wrong-UA group."""
    rows = []
    for h in range(n_hosts):
        host = f"host{h}.example.test"
        v = h % 6
        if v == 0:
            continue  # missing -> allow all (BasicCrawler.java:211-216)
        elif v == 1:
            txt = ""
        elif v == 2:
            txt = "User-agent: *\nDisallow: /p/1"
        elif v == 3:
            txt = "User-agent: my-crawler\nDisallow: /p/\nAllow: /p/2"
        elif v == 4:
            txt = "<html>not a robots file %%% \x00garbage"
        else:
            txt = "User-agent: googlebot-images-only-NOT\nDisallow: /\nUser-agent: unrelated\nDisallow: /p/"
        rows.append((host, txt))
    return spark.createDataFrame(rows, "host string, robots_txt string")


def gen_seeds(spark: SparkSession, n_seeds: int, n_urls: int, n_hosts: int) -> DataFrame:
    """First n_seeds url ids, in seed-list order (deterministic)."""
    return spark.range(n_seeds).select(
        F.expr(_url_expr("id", n_hosts)).alias("url"),
        F.col("id").cast("int").alias("seq"),
    )


def write_fixture(spark: SparkSession, out_dir: str, n_urls: int, n_hosts: int,
                  n_images: int, n_seeds: int = 4, max_out_degree: int = 12,
                  min_px: int = 16, px_range: int = 33) -> None:
    gen_web_graph(spark, n_urls, n_hosts, n_images, max_out_degree).write.mode("overwrite").parquet(f"{out_dir}/web_graph")
    gen_payloads(spark, n_images, min_px, px_range).write.mode("overwrite").parquet(f"{out_dir}/payloads")
    gen_robots(spark, n_hosts).write.mode("overwrite").parquet(f"{out_dir}/robots")
    gen_seeds(spark, n_seeds, n_urls, n_hosts).write.mode("overwrite").parquet(f"{out_dir}/seeds")
