"""End-to-end Spark tests: pages -> kernel -> pipeline -> operators.

One shared local[4] session; sf0.001 inputs (500 docs) keep this fast.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fortissimo_spark.dedup import (
    exact_duplicates, near_duplicate_pairs, simhash64,
)
from fortissimo_spark.io_tables import build_pages, load_table
from fortissimo_spark.kernel import make_nodes_kernel
from fortissimo_spark.modality import MEDIA_SCHEMA, image_features, sample_frames
from fortissimo_spark.pipeline import ExtractionJob, dedup_latest_crawl, extract_df
from fortissimo_spark.schema import NODES_SCHEMA
from fortissimo_spark.similarity import cosine_topk
from fortissimo_spark.textstats import with_fingerprints, with_langid, with_quality_features

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    if not os.path.exists(SF_DIR):
        pytest.skip("testdata missing")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .appName("fortissimo-tests")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark, SF_DIR, num_partitions=8).cache()


def test_extraction_matches_documents(spark, pages):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    extracted = extract_df(dedup_latest_crawl(pages), "density").select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("text").alias("extracted"))
    joined = docs.join(extracted, "doc_id", "full_outer")
    n_docs = docs.count()
    assert joined.count() == n_docs
    mismatches = joined.filter(
        F.col("text").isNull() | F.col("extracted").isNull()
        | (F.col("text") != F.col("extracted"))).count()
    assert mismatches == 0


def test_dedup_window_keeps_latest(spark, pages):
    total = pages.count()
    deduped = dedup_latest_crawl(pages)
    n = deduped.count()
    assert n == deduped.select("url").distinct().count()
    assert n < total  # ~10% of urls have a second crawl
    # latest wins
    latest = pages.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
    assert deduped.select("url", "warc_ts").exceptAll(latest).count() == 0


def test_roundtrip_all_pages(spark, pages):
    out = extract_df(pages, "none", verify_roundtrip=True)
    bad = out.filter(~F.col("roundtrip_ok")).count()
    assert bad == 0


def test_pipeline_run_and_resume(spark, pages, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("extraction_job"))
    job = ExtractionJob(spark, out_dir)
    stats = job.run(pages)
    assert stats["rows"] > 0
    assert stats["errors"] == 0

    result1 = spark.read.parquet(job.text_path).select("url", "text").orderBy("url")
    rows1 = [(r.url, r.text) for r in result1.collect()]

    lineage = spark.read.parquet(job.lineage_path)
    assert lineage.count() > 0
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == stats["rows"]

    # simulate a partial failure: delete one committed bucket's lineage rows
    committed = job.committed_partitions()
    n_partitions = committed.count()
    one = lineage.orderBy("host_bucket").limit(n_partitions - 1)
    one.write.mode("overwrite").parquet(job.lineage_path + "_tmp")
    shutil.rmtree(job.lineage_path)
    os.rename(job.lineage_path + "_tmp", job.lineage_path)

    # resume: must process only the missing partition and converge byte-identically
    stats2 = job.run(pages)
    result2 = spark.read.parquet(job.text_path).select("url", "text").orderBy("url")
    rows2 = [(r.url, r.text) for r in result2.collect()]
    assert rows1 == rows2
    assert stats2["rows"] == stats["rows"]


def test_pipeline_run_keeps_the_session_overwrite_mode(spark, pages,
                                                       tmp_path_factory):
    """The job's dynamic partition overwrite is an option of its own write:
    a later partitioned overwrite in the same session still replaces every
    partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    base = tmp_path_factory.mktemp("overwrite_mode")
    ExtractionJob(spark, str(base / "job")).run(pages.limit(40))
    assert spark.conf.get(key) == before
    table = str(base / "table")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string") \
        .write.partitionBy("k").parquet(table)
    spark.createDataFrame([(1, "c")], "k int, v string") \
        .write.mode("overwrite").partitionBy("k").parquet(table)
    assert [tuple(r) for r in spark.read.parquet(table).collect()] == [
        ("c", 1)]


def test_production_writer_fallback(spark, pages, tmp_path_factory):
    """Engine auto-selection: no Iceberg jars in this sandbox, so the
    production writer must route to the parquet fallback with the same
    partition layout — and the written table must be readable/prunable."""
    from fortissimo_spark.io_tables import iceberg_available, write_pages_production
    assert iceberg_available(spark) is False
    out = str(tmp_path_factory.mktemp("prod_writer") / "pages")
    engine = write_pages_production(pages.limit(40), spark, out)
    assert engine == "parquet"
    back = spark.read.parquet(out)
    assert back.count() == 40
    assert {"crawl_date", "host_bucket"} <= set(back.columns)


def test_extraction_job_over_bucketed_layout(spark, pages, tmp_path_factory):
    """The production input layout (url-bucketed, url-sorted table) must
    flow through the FULL ExtractionJob — dedup window (exchange-free
    there), kernel, partitioned write, lineage — and converge byte-
    identically with the plain-parquet path."""
    from fortissimo_spark.io_tables import register_bucketed_pages, write_bucketed_pages
    base = tmp_path_factory.mktemp("bucketed_job")
    loc = str(base / "bucketed_pages")
    write_bucketed_pages(pages, "test_bucketed_pages", n_buckets=4, location=loc)
    bt = register_bucketed_pages(spark, "test_bucketed_pages", loc, n_buckets=4)

    job_b = ExtractionJob(spark, str(base / "out_bucketed"))
    stats_b = job_b.run(bt)
    job_p = ExtractionJob(spark, str(base / "out_plain"))
    stats_p = job_p.run(pages)
    assert stats_b["rows"] == stats_p["rows"] > 0

    rows_b = [(r.url, r.text) for r in spark.read.parquet(job_b.text_path)
              .select("url", "text").orderBy("url").collect()]
    rows_p = [(r.url, r.text) for r in spark.read.parquet(job_p.text_path)
              .select("url", "text").orderBy("url").collect()]
    assert rows_b == rows_p


def test_nodes_kernel(spark, pages):
    nodes = (pages.limit(20)
             .mapInPandas(make_nodes_kernel(), NODES_SCHEMA))
    pdf = nodes.toPandas()
    assert len(pdf) > 100
    assert (pdf["kind"] == 0).any() and (pdf["kind"] == 1).any()
    # parents precede children in doc order per url
    sample_url = pdf["url"].iloc[0]
    sub = pdf[pdf["url"] == sample_url]
    order = {idx: i for i, idx in enumerate(sub["node_idx"])}
    for _, row in sub.iterrows():
        if row["parent"] > 0:
            assert order[row["parent"]] < order[row["node_idx"]]


def test_exact_duplicates(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text") \
        .filter(F.col("doc_id") % 3 == 0)
    groups = exact_duplicates(docs.union(dup))
    assert groups.count() == dup.count()
    assert groups.filter(F.col("n_copies") != 2).count() == 0


def test_exact_duplicates_bounded_state(spark):
    # one hash group with many members: state must stay capped
    rows = [(i, "same boilerplate page text") for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = exact_duplicates(docs, sample_ids=8).collect()
    assert len(out) == 1
    g = out[0]
    assert g.n_copies == 200
    assert g.first_doc_id == 0
    assert g.sample_doc_ids == list(range(8))


def test_lsh_bucket_cap_bounds_adversarial_input(spark):
    # adversarial constant column: every doc identical -> one hot bucket
    from fortissimo_spark.dedup import lsh_candidate_pairs, minhash_signatures, shingle_sets
    rows = [(i, "identical text all the way down " * 3) for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    signed = minhash_signatures(shingle_sets(docs), num_hashes=16)
    capped = lsh_candidate_pairs(signed.select("id", "sig"), bands=4,
                                 max_bucket_size=10)
    n = capped.count()
    assert 0 < n <= 10 * 9 // 2  # bounded, not 60*59/2 = 1770
    # embeddings: constant vectors -> every probe puts all in one bucket
    from fortissimo_spark.similarity import cosine_near_pairs
    emb = spark.createDataFrame([(i, [1.0] * 8) for i in range(60)],
                                ["vec_id", "embedding"])
    pairs = cosine_near_pairs(emb, threshold=0.5, num_planes=4, dim=8,
                              num_probes=2, max_bucket_size=10)
    n2 = pairs.count()
    assert 0 < n2 <= 10 * 9 // 2


def test_minhash_lsh_finds_planted_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 100)
    pert = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("zz yy "), F.col("text")).alias("text"))
    pairs = near_duplicate_pairs(docs.union(pert), threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(r.doc_id, r.doc_id + 1000)
                for r in docs.filter(F.col("doc_id") % 5 == 0).collect()}
    assert expected <= found
    # no wild false positives after exact verification
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_duplicate_clusters(spark):
    """Connected components over dup pairs: chain, star, isolated pair."""
    from fortissimo_spark.dedup import duplicate_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11), (10, 12), (10, 13),    # star around 10
         (20, 21)],                       # isolated pair
        ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_simhash_close_for_near_dups(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 40)
    pert = docs.select((F.col("doc_id") + 1000).alias("doc_id"),
                       F.concat(F.lit("zz "), F.col("text")).alias("text"))
    sims = {r.id: r.simhash for r in simhash64(docs.union(pert)).collect()}
    for doc_id in list(sims):
        if doc_id >= 1000:
            continue
        a, b = sims[doc_id], sims[doc_id + 1000]
        hamming = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        # near-dups must be far below the ~32-bit expectation of random pairs
        assert hamming <= 24, (doc_id, hamming)


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 (public algorithm; parity with Spark's xxhash64
    validated in test_simhash_ground_truth)."""
    P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed & M, (seed - P1) & M]
        while i + 32 <= n:
            for j in range(4):
                k = int.from_bytes(data[i:i + 8], "little")
                v[j] = (rotl((v[j] + k * P2) & M, 31) * P1) & M
                i += 8
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & M
        for vj in v:
            h ^= (rotl((vj * P2) & M, 31) * P1) & M
            h = (h * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        h ^= (rotl((k * P2) & M, 31) * P1) & M
        h = (rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h


def _simhash_ground_truth(text: str, num_bits: int, word_hash) -> int:
    import re
    words = re.split(r"\s+", text.strip())
    counts = [0] * num_bits
    for w in words:
        h = word_hash(w)
        for b in range(num_bits):
            counts[b] += 1 if (h >> b) & 1 else -1
    sim = sum((1 << b) for b in range(num_bits) if counts[b] > 0)
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def test_simhash_ground_truth(spark):
    """Exact pure-Python recompute of both simhash variants (the xxhash64
    production path has no DuckDB oracle — this is its correctness pin)."""
    import hashlib

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 30)
    texts = {r.doc_id: r.text for r in docs.collect()}

    from fortissimo_spark.dedup import md5_word_hash

    got_xx = {r.id: r.simhash for r in simhash64(docs).collect()}
    want_xx = {i: _simhash_ground_truth(t, 64,
                                        lambda w: _xxh64(w.encode("utf-8")))
               for i, t in texts.items()}
    assert got_xx == want_xx

    got_md5 = {r.id: r.simhash
               for r in simhash64(docs, num_bits=60,
                                  word_hash=md5_word_hash).collect()}
    want_md5 = {i: _simhash_ground_truth(
        t, 60, lambda w: int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16))
        for i, t in texts.items()}
    assert got_md5 == want_md5


def test_cosine_topk(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    top = cosine_topk(emb, query_vec_id=0, k=5).collect()
    assert len(top) == 5
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_ivf_topk(spark):
    from fortissimo_spark.similarity import cosine_topk, ivf_assign, ivf_centroids, ivf_topk
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = ivf_centroids(64, 8, 7)
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents)
    # every vector lands in exactly one cell, all cells within range
    cells = ivf_assign(emb, cents).select("vec_id", "cell").collect()
    assert len(cells) == emb.count()
    assert all(0 <= r.cell < 8 for r in cells)

    approx = ivf_topk(emb, query_vec_id=0, k=10, n_centroids=8, n_probe=2)
    got = approx.collect()
    assert len(got) == 10
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)
    # approximate results are a subset of the exact candidate universe and
    # never beat the exact top-1
    exact = cosine_topk(emb, query_vec_id=0, k=10).collect()
    assert sims[0] <= exact[0].cos_sim + 1e-9
    # probing 2/8 cells: expect meaningful overlap with the exact top-10
    overlap = {r.vec_id for r in got} & {r.vec_id for r in exact}
    assert len(overlap) >= 3


def test_textstats(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(50)
    q = with_quality_features(docs).collect()
    assert all(0 <= r.q_alpha_ratio <= 1 for r in q)
    lang = with_langid(docs).collect()
    from fortissimo_spark.textstats import LANG_MARKERS
    assert all(r.langid_guess in LANG_MARKERS for r in lang)
    fp = with_fingerprints(docs).collect()
    assert all(len(r.fp_md5) == 32 and r.fp_rolling >= 0 for r in fp)


def test_modality_kernels(spark):
    rows = [(i, "image" if i % 2 == 0 else "video",
             bytes([i % 251]) * (100 + i), "application/octet-stream",
             None, None, 3500 if i % 2 else None) for i in range(10)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = image_features(media).collect()
    assert len(feats) == 5
    assert all(len(r.feature) == 16 for r in feats)
    assert all(r.out_width <= 32 and r.out_height <= 32 for r in feats)
    # deterministic: same payload -> same feature
    feats2 = image_features(media).collect()
    assert {r.media_id: r.feature for r in feats} == \
        {r.media_id: r.feature for r in feats2}

    frames = sample_frames(media, every_ms=1000).collect()
    per_video = {}
    for r in frames:
        per_video.setdefault(r.media_id, []).append(r.frame_ms)
    assert all(v == [0, 1000, 2000, 3000] for v in per_video.values())


def _box(fourcc: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + fourcc + body


def _make_mjpeg_mp4(frames, frame_ms=1000):
    """Minimal ISO-BMFF Motion-JPEG file: ftyp + mdat(frames) + moov
    with a 'vide' trak whose stsd fourcc is 'jpeg' and real
    stts/stsz/stsc/stco tables — an independent muxer so the decoder
    test isn't self-referential."""
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom")
    mdat_body = b"".join(frames)
    mdat = _box(b"mdat", mdat_body)
    first_off = len(ftyp) + 8  # mdat header is 8 bytes
    ts, n = 1000, len(frames)
    dur = n * frame_ms
    mvhd = _box(b"mvhd", bytes(4) + bytes(8)
                + ts.to_bytes(4, "big") + dur.to_bytes(4, "big")
                + bytes(80))
    tkhd = _box(b"tkhd", bytes(4) + bytes(8) + (1).to_bytes(4, "big")
                + bytes(4) + dur.to_bytes(4, "big") + bytes(52)
                + (16 << 16).to_bytes(4, "big")
                + (16 << 16).to_bytes(4, "big"))
    mdhd = _box(b"mdhd", bytes(4) + bytes(8)
                + ts.to_bytes(4, "big") + dur.to_bytes(4, "big")
                + bytes(4))
    hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(13))
    stsd = _box(b"stsd", bytes(4) + (1).to_bytes(4, "big")
                + _box(b"jpeg", bytes(78)))
    stts = _box(b"stts", bytes(4) + (1).to_bytes(4, "big")
                + n.to_bytes(4, "big") + frame_ms.to_bytes(4, "big"))
    stsz = _box(b"stsz", bytes(4) + bytes(4) + n.to_bytes(4, "big")
                + b"".join(len(f).to_bytes(4, "big") for f in frames))
    stsc = _box(b"stsc", bytes(4) + (1).to_bytes(4, "big")
                + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
                + (1).to_bytes(4, "big"))
    stco = _box(b"stco", bytes(4) + (1).to_bytes(4, "big")
                + first_off.to_bytes(4, "big"))
    stbl = _box(b"stbl", stsd + stts + stsz + stsc + stco)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def test_mjpeg_video_frame_decode(spark):
    """sample_frames yields REAL pixels for Motion-JPEG mp4: each
    sampled timestamp's luma grid equals decode_image of the exact
    JPEG sample the ISO-BMFF tables point at; non-MJPEG payloads keep
    the NULL pixel lanes with the same timestamp grid."""
    from fortissimo_spark.modality import (MEDIA_SCHEMA, decode_image,
                                           decode_video_frames,
                                           sample_frames)
    from tests.test_jpeg import _gradient, encode_jpeg

    import numpy as np

    # 3 distinguishable 16x16 frames
    jpegs = [encode_jpeg(_gradient(16, 16)),
             encode_jpeg((255 - _gradient(16, 16)).astype(np.uint8)),
             encode_jpeg(np.full((16, 16, 3), (30, 200, 90),
                                 dtype=np.uint8))]
    mp4 = _make_mjpeg_mp4(jpegs, frame_ms=1000)

    # pure-python: sampled grids == decode_image of the raw samples
    frames = decode_video_frames(mp4, every_ms=1000)
    assert [f[0] for f in frames] == [0, 1000, 2000]
    for (t, w, h, grid), j in zip(frames, jpegs):
        jw, jh, jgrid = decode_image(j)
        assert (w, h, bytes(grid)) == (jw, jh, bytes(jgrid))
    # 500ms sampling holds each frame until the next dts
    halves = decode_video_frames(mp4, every_ms=500)
    assert [f[0] for f in halves] == [0, 500, 1000, 1500, 2000, 2500]
    assert bytes(halves[0][3]) == bytes(halves[1][3])

    media = spark.createDataFrame(
        [(1, "video", mp4, "video/mp4", None, None, 3000),
         (2, "video", b"\x00" * 64, "application/octet-stream",
          None, None, 2500)], MEDIA_SCHEMA)
    got = {}
    for r in sample_frames(media, every_ms=1000).collect():
        got.setdefault(r.media_id, []).append(r)
    assert [r.frame_ms for r in got[1]] == [0, 1000, 2000]
    for r, j in zip(got[1], jpegs):
        jw, jh, jgrid = decode_image(j)
        assert (r.width, r.height, bytes(r.frame_luma)) \
            == (jw, jh, bytes(jgrid))
    assert [r.frame_ms for r in got[2]] == [0, 1000, 2000]
    assert all(r.frame_luma is None and r.width is None for r in got[2])
    assert len({r.frame_token for r in got[1] + got[2]}) == 6


def _make_bmp(width, height, rgb_at):
    """Minimal uncompressed 24-bit BMP (bottom-up) from a pixel function."""
    stride = (width * 3 + 3) & ~3
    raster = bytearray()
    for row in range(height - 1, -1, -1):  # bottom-up storage
        line = bytearray()
        for x in range(width):
            r, g, b = rgb_at(x, row)
            line += bytes((b, g, r))
        line += b"\x00" * (stride - len(line))
        raster += line
    pixel_offset = 54
    size = pixel_offset + len(raster)
    header = (b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
              + pixel_offset.to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + width.to_bytes(4, "little", signed=True)
              + height.to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
              + b"\x00" * 16)
    return bytes(header + raster)


def test_modality_real_decode(spark):
    """Real BMP/PPM bytes through the distributed kernel: true dimensions
    and pixel-derived features, no deterministic_fake involved."""
    from fortissimo_spark.modality import decode_bmp, decode_ppm, image_features

    # 8x4 BMP: left half black, right half white
    bmp = _make_bmp(8, 4, lambda x, y: (255, 255, 255) if x >= 4 else (0, 0, 0))
    w, h, grid = decode_bmp(bmp)
    assert (w, h) == (8, 4)
    # 4x4 grid: columns 0-1 black, 2-3 white, every row
    assert list(grid) == [0, 0, 255, 255] * 4

    # 4x4 PPM P6: all mid-gray
    ppm = b"P6\n4 4\n255\n" + bytes([100, 100, 100]) * 16
    assert decode_ppm(ppm) == (4, 4, bytes([100] * 16))
    # P3 ascii variant decodes identically
    ppm3 = b"P3\n# comment\n4 4\n255\n" + b" ".join(b"100" for _ in range(48))
    assert decode_ppm(ppm3) == (4, 4, bytes([100] * 16))

    rows = [(1, "image", bytearray(bmp), "image/bmp", None, None, None),
            (2, "image", bytearray(ppm), "image/x-portable-pixmap", None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in image_features(media).collect()}
    assert (feats[1].out_width, feats[1].out_height) == (8, 4)
    assert (feats[2].out_width, feats[2].out_height) == (4, 4)
    # features are pixel-derived: black cells -> -1.0, white -> ~0.99
    f1 = feats[1].feature
    assert f1[0] == pytest.approx(-1.0) and f1[2] == pytest.approx(127 / 128)
    assert all(v == pytest.approx((100 - 128) / 128) for v in feats[2].feature)


def test_streaming_extract(spark, pages, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    pages.limit(50).write.mode("overwrite").parquet(in_dir)

    n_urls = pages.limit(50).select("url").distinct().count()

    from fortissimo_spark.streaming import start_streaming_job
    q = start_streaming_job(spark, in_dir, out_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(out_dir)
    # the stream dedups by url within the watermark horizon
    assert out.count() == n_urls
    assert out.filter(F.col("text").isNull()).count() == 0


def test_streaming_wet_sink(spark, pages, tmp_path_factory):
    """Incremental WET publishing: pages stream -> extraction -> WET
    shards per micro-batch; reading every batch directory back through
    the WET reader reproduces the batch-mode extraction (url, text)
    exactly, and records survive the wet round-trip byte-identically."""
    base = tmp_path_factory.mktemp("wetstream")
    in_dir, out_dir, ckpt = (str(base / "in"), str(base / "out"),
                             str(base / "ckpt"))
    pages.limit(40).write.mode("overwrite").parquet(in_dir)

    from fortissimo_spark.pipeline import extract_df
    from fortissimo_spark.streaming import streaming_wet_sink
    from fortissimo_spark.warc import read_wets
    expected = {r.url: r.text for r in
                extract_df(spark.read.parquet(in_dir).dropDuplicates(
                    ["url"]), "density").select("url", "text").collect()}

    q = streaming_wet_sink(spark, in_dir, out_dir, ckpt,
                           trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.url: r.text for r in
           read_wets(spark, out_dir + "/batch-*/part-*").collect()}
    assert got == expected


def test_streaming_windowed_rates_drop_late_data(spark, tmp_path_factory):
    """Event-time tumbling windows + watermark: rows far behind the max
    observed warc_ts must be dropped; on-time rows aggregate per window."""
    import datetime as dt
    base = tmp_path_factory.mktemp("rates")
    in_dir, ckpt = str(base / "in"), str(base / "ckpt")
    from fortissimo_spark.schema import PAGES_SCHEMA
    from fortissimo_spark.streaming import read_pages_stream, streaming_crawl_rates

    t0 = dt.datetime(2026, 1, 10, 12, 0, 0)

    def row(i, ts):
        return (f"https://h{i % 2}.example.com/p/{i}", ts,
                bytearray(b"<p>x</p>"), None, "en")

    # drop 1: 6 on-time rows across two 1-hour windows, PLUS one row 3
    # hours ahead so the post-batch watermark (max ts - 2h) lands at
    # t0+1h — strictly after the first window's end
    drop1 = [row(i, t0 + dt.timedelta(minutes=10 * i)) for i in range(6)]
    drop1.append(row(99, t0 + dt.timedelta(hours=3)))
    spark.createDataFrame(drop1, PAGES_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    stream = read_pages_stream(spark, in_dir, max_files_per_trigger=1)
    rates = streaming_crawl_rates(stream, window="1 hour", watermark="2 hours")
    q = (rates.writeStream.format("memory").queryName("crawl_rates")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()  # batch 0 commits; watermark now t0+1h
        # drop 2: one fresh row + one row 12 hours BEHIND the watermark
        drop2 = [row(100, t0 + dt.timedelta(hours=6)),
                 row(101, t0 - dt.timedelta(hours=12))]
        spark.createDataFrame(drop2, PAGES_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        got = {(r.window_start, r.host): r.n_pages
               for r in spark.sql("SELECT * FROM crawl_rates").collect()}
    finally:
        q.stop()
    total = sum(got.values())
    # 6 on-time + watermark-advancer + 1 fresh; the 12-hours-late row
    # must NOT appear
    assert total == 8
    late_window = t0 - dt.timedelta(hours=12)
    assert not any(ws <= late_window for ws, _ in got)


def test_salted_repartition_balances_skew(spark, pages):
    from fortissimo_spark.io_tables import with_layout_columns
    from fortissimo_spark.pipeline import salted_repartition
    laid = with_layout_columns(pages)
    # the corpus is Zipf-skewed: the hottest host holds ~45% of pages
    top_share = (laid.groupBy("host").count().orderBy(F.desc("count"))
                 .limit(1).collect()[0]["count"]) / laid.count()
    assert top_share > 0.3

    parts = salted_repartition(laid, 16, salt_factor=8)
    sizes = (parts.withColumn("pid", F.spark_partition_id())
             .groupBy("pid").count().collect())
    counts = [r["count"] for r in sizes]
    total = sum(counts)
    # no task partition may hold anywhere near the hot host's share
    assert max(counts) / total < 0.2


def test_format_and_stylize_kernels(spark, pages):
    from pyspark.sql.types import StringType, StructField, StructType
    from fortissimo_spark.kernel import make_format_kernel, make_stylize_kernel
    fmt_schema = StructType([StructField("url", StringType()),
                             StructField("formatted_html", StringType())])
    out = pages.limit(10).mapInPandas(
        make_format_kernel({"indent": 2}), fmt_schema).collect()
    assert len(out) == 10
    assert all("<main>" in r.formatted_html for r in out)

    sty_schema = StructType([StructField("url", StringType()),
                             StructField("stylized_html", StringType())])
    sty = pages.limit(5).mapInPandas(make_stylize_kernel(), sty_schema).collect()
    assert len(sty) == 5
    assert all("fh-tag" in r.stylized_html for r in sty)


def test_streaming_stateful_host_stats(spark, pages, tmp_path_factory):
    base = tmp_path_factory.mktemp("stateful")
    in_dir, ckpt = str(base / "in"), str(base / "ckpt")
    # two file drops -> two micro-batches; state must accumulate across them
    pages.limit(40).coalesce(1).write.mode("overwrite").parquet(in_dir)

    from fortissimo_spark.streaming import read_pages_stream, streaming_host_stats
    from fortissimo_spark.pipeline import extract_df

    stream = read_pages_stream(spark, in_dir, max_files_per_trigger=1)
    stats = streaming_host_stats(extract_df(stream, "density"))
    q = (stats.writeStream.format("memory").queryName("host_stats")
         .outputMode("update")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        total_pages = pages.limit(40).count()
        # latest state row per host must sum to the full input
        latest = spark.sql("""
            SELECT host, max(pages) AS pages FROM host_stats GROUP BY host""")
        assert latest.agg(F.sum("pages")).collect()[0][0] == total_pages
    finally:
        q.stop()


def test_driver_entry_contract(spark):
    # exactly what the driver smoke-checks: entry(spark) -> DataFrame with
    # stable schema and > 0 rows
    import __spark_entry__ as entrymod
    df = entrymod.entry(spark)
    assert df.columns == ["doc_id", "url", "lang", "text", "text_len",
                          "token_count", "errors", "node_count", "roundtrip_ok"]
    rows = df.limit(5).collect()
    assert len(rows) == 5
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 31


def test_media_header_sniffing(spark):
    """Header-only metadata for codec formats, on hand-built fixture
    headers from the public container specs: WebP VP8/VP8L/VP8X, GIF,
    AVIF ispe, mp3 frame header (with and without an ID3v2 tag).
    decode_image/decode_audio surface the real dimensions/duration for
    these instead of raising."""
    from fortissimo_spark.modality import (
        decode_audio, decode_image, sniff_media,
    )

    def riff(fourcc, data):
        chunk = fourcc + len(data).to_bytes(4, "little") + data
        return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
                + b"WEBP" + chunk)

    # VP8 lossy: frame tag + start code + 14-bit dims (320x240)
    vp8 = riff(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
               + (320).to_bytes(2, "little") + (240).to_bytes(2, "little"))
    assert sniff_media(vp8) == {
        "format": "webp-vp8", "width": 320, "height": 240,
        "sample_rate": None, "n_channels": None, "bitrate_kbps": None,
        "duration_ms": None}
    # VP8L lossless: signature + packed (w-1 | (h-1)<<14)
    bits = (99) | (49 << 14)
    vp8l = riff(b"VP8L", b"\x2f" + bits.to_bytes(4, "little"))
    s = sniff_media(vp8l)
    assert (s["format"], s["width"], s["height"]) == ("webp-vp8l", 100, 50)
    # VP8X extended: flags + 24-bit minus-one canvas dims (1920x1080)
    vp8x = riff(b"VP8X", b"\x00\x00\x00\x00"
                + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little"))
    s = sniff_media(vp8x)
    assert (s["format"], s["width"], s["height"]) == ("webp-vp8x", 1920, 1080)
    # decode_image: real dims, digest summary, no raise
    w, h, summary = decode_image(vp8)
    assert (w, h) == (320, 240) and len(summary) == 32

    gif = b"GIF89a" + (640).to_bytes(2, "little") \
        + (480).to_bytes(2, "little") + b"\x00" * 3
    s = sniff_media(gif)
    assert (s["format"], s["width"], s["height"]) == ("gif", 640, 480)

    ispe = (20).to_bytes(4, "big") + b"ispe" + b"\x00" * 4 \
        + (800).to_bytes(4, "big") + (600).to_bytes(4, "big")
    avif = (24).to_bytes(4, "big") + b"ftyp" + b"avif" \
        + b"\x00" * 12 + ispe
    s = sniff_media(avif)
    assert (s["format"], s["width"], s["height"]) == ("avif", 800, 600)

    # mp3: MPEG1 Layer III, 128 kbps (idx 9), 44100 Hz (idx 0), stereo;
    # 4000 payload bytes after a 100-byte ID3v2 tag -> 250 ms CBR estimate
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    mp3 = id3 + hdr + b"\x00" * 3996
    s = sniff_media(mp3)
    assert s == {"format": "mp3", "width": None, "height": None,
                 "sample_rate": 44100, "n_channels": 2,
                 "bitrate_kbps": 128, "duration_ms": 250}
    rate, nch, dur, rms = decode_audio(mp3)
    assert (rate, nch, dur) == (44100, 2, 250) and len(rms) == 16
    # MPEG2 table arm: 22050 Hz (idx 0), 96 kbps (idx 10), mono
    hdr2 = bytes([0xFF, 0xF3, 0xA0, 0xC0])
    s = sniff_media(hdr2 + b"\x00" * 796)
    assert (s["sample_rate"], s["n_channels"], s["bitrate_kbps"],
            s["duration_ms"]) == (22050, 1, 96, 66)

    assert sniff_media(b"\x00\x01\x02 not media") is None
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_image(riff(b"VP8 ", b"\x00\x00\x00BAD!" + b"\x00" * 4))


def test_modality_real_audio_decode(spark):
    """Real WAV PCM bytes through the distributed kernel: true sample rate,
    channels, duration, and amplitude-accurate RMS (no fake)."""
    import io
    import math
    import wave

    from fortissimo_spark.modality import audio_features, decode_wav

    def make_wav(rate=16000, seconds=0.5, amp=0.25, freq=440.0):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            n = int(rate * seconds)
            frames = bytearray()
            for i in range(n):
                v = int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))
                frames += v.to_bytes(2, "little", signed=True)
            w.writeframes(bytes(frames))
        return buf.getvalue()

    wav = make_wav()
    rate, nch, dur, rms = decode_wav(wav)
    assert (rate, nch, dur) == (16000, 1, 500)
    # RMS of a sine = amp / sqrt(2)
    expect = 0.25 / math.sqrt(2)
    assert all(abs(v - expect) < 0.02 for v in rms)

    rows = [(1, "audio", bytearray(wav), "audio/wav", None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = audio_features(media).collect()
    assert len(feats) == 1
    assert feats[0].sample_rate == 16000 and feats[0].duration_ms == 500
    assert abs(feats[0].rms[0] - expect) < 0.02

    # non-WAV payload refuses without the documented stand-in
    import pytest as _pytest
    from fortissimo_spark.modality import decode_audio
    with _pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3data")


def test_corrupt_media_degrades_not_crashes(spark):
    """Payloads with real-format magic but corrupt bodies must degrade to
    the deterministic stand-in in kernels (one bad crawl document cannot
    fail a task), and raise clean ValueError without it."""
    from fortissimo_spark.modality import audio_features, decode_audio, decode_image, image_features

    bad_bmp = b"BM" + b"\x00" * 52  # header-only, claims nothing readable
    bad_wav = b"RIFF\x00\x00\x00\x00WAVEjunk"

    with pytest.raises(ValueError):
        decode_image(b"BM" + bytes(60) + b"\x01")  # corrupt, no fake
    with pytest.raises(ValueError):
        decode_audio(bad_wav)
    # fake-enabled: deterministic stand-in, no exception
    w, h, summary = decode_image(bad_bmp, deterministic_fake=True)
    assert w > 0 and h > 0 and len(summary) >= 16

    rows = [(1, "image", bytearray(bad_bmp), "image/bmp", None, None, None),
            (2, "audio", bytearray(bad_wav), "audio/wav", None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    assert len(image_features(media).collect()) == 1
    assert len(audio_features(media).collect()) == 1


def test_canonicalize(spark):
    from fortissimo_spark.dedup import canonicalize
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 50)
    exact = docs.filter(F.col("doc_id") % 5 == 0) \
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    near = docs.filter(F.col("doc_id") % 5 == 0) \
        .select((F.col("doc_id") + 2000).alias("doc_id"),
                F.concat(F.lit("zz yy "), F.col("text")).alias("text"))
    kept = canonicalize(docs.union(exact).union(near), threshold=0.5)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # every planted copy must lose to its original (the min id)
    assert not any(i >= 1000 for i in ids)
    # every original either survives or lost to a SMALLER original
    originals = {r.doc_id for r in docs.collect()}
    assert ids <= originals
    assert min(originals) in ids


def test_duplicate_spans_planted(spark):
    """Adversarial planted-span matrix for substring-level exact dedup
    (Lee et al. ExactSubstr): shared-gram overlap merges to ONE maximal
    span; an internal repeat beyond the merge gap yields TWO spans; docs
    shorter than k and unique docs are untouched; a fully-duplicated doc
    empties out."""
    from fortissimo_spark.dedup import duplicate_spans, remove_duplicate_spans
    shared = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"  # 10 tokens -> 3 k=8 grams
    docs = spark.createDataFrame([
        (1, "u1 u2 u3 " + shared + " t1 t2"),
        (2, "v1 " + shared + " v2 v3 v4"),
        (3, "only unique tokens live here nothing repeats at all ever"),
        (4, "r0 " + shared + " g1 g2 g3 g4 g5 g6 g7 g8 g9 "
            + shared + " r1"),
        (5, "tiny doc"),
        (6, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
        (7, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ], "doc_id long, text string")
    spans = {(r.doc_id, r.s, r.e)
             for r in duplicate_spans(docs, k=8).collect()}
    # doc 1: shared occupies tokens 3..12 -> grams at 3,4,5 merge to [3,13)
    # doc 4: two occurrences separated by a 9-token gap (> k=8) stay split
    assert spans == {(1, 3, 13), (2, 1, 11),
                     (4, 1, 11), (4, 20, 30),
                     (6, 0, 10), (7, 0, 10)}
    clean = {r.doc_id: (r.text_clean, r.n_tokens_removed)
             for r in remove_duplicate_spans(docs, k=8).collect()}
    assert clean[1] == ("u1 u2 u3 t1 t2", 10)
    assert clean[2] == ("v1 v2 v3 v4", 10)
    assert clean[3][1] == 0
    assert clean[4] == ("r0 g1 g2 g3 g4 g5 g6 g7 g8 g9 r1", 20)
    assert clean[5] == ("tiny doc", 0)
    assert clean[6] == ("", 10) and clean[7] == ("", 10)

    # every pre-filter tier returns bit-identical spans: broadcast
    # (default here), bloom (forced via a tiny broadcast limit), plain
    # shuffle (both limits tiny), and the fully-lazy plan
    want = spans
    for kwargs, strategy in [
            (dict(broadcast_dup_limit=0), "bloom"),
            (dict(broadcast_dup_limit=0, bloom_dup_limit=0), "shuffle"),
            (dict(prefilter=None), "lazy")]:
        got = {(r.doc_id, r.s, r.e)
               for r in duplicate_spans(docs, k=8, **kwargs).collect()}
        assert got == want, strategy
        assert duplicate_spans.last_strategy["strategy"] == strategy
    # default tier on this corpus is broadcast, and the broadcast plan has
    # NO exchange between the gram explode and the flagged positions (the
    # only exchange left is the per-doc islands window)
    plan = duplicate_spans(docs, k=8)
    assert duplicate_spans.last_strategy["strategy"] == "broadcast"
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys


def test_normalize_url(spark):
    from fortissimo_spark.urls import normalize_url
    cases = [
        ("HTTPS://Example.COM:443/Path?utm_source=x&a=1#frag",
         "https://example.com/Path?a=1"),
        ("http://Example.com:80/", "http://example.com/"),
        ("http://example.com:8080/x?fbclid=1&b=2&utm_campaign=z",
         "http://example.com:8080/x?b=2"),
        ("https://h.example/x?utm_only=1", "https://h.example/x"),
        ("https://h.example/x", "https://h.example/x"),
        ("https://h.example/x?fbclid", "https://h.example/x"),
        # case-insensitive tracking params; empty path -> '/'
        ("https://h.example/x?UTM_Source=x&Fbclid=1&ok=2", "https://h.example/x?ok=2"),
        ("https://Example.COM", "https://example.com/"),
        ("http://example.com?a=1", "http://example.com/?a=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in df.select(normalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_dedup_canonical_collapses_url_variants(spark):
    import datetime as dt
    from fortissimo_spark.pipeline import dedup_latest_crawl_canonical
    from fortissimo_spark.schema import PAGES_SCHEMA
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # three decorated variants of ONE page; latest must win
        ("https://h.example.com/a?utm_source=x", t0, bytearray(b"<p>v1</p>"), None, "en"),
        ("HTTPS://H.Example.COM:443/a", t0 + dt.timedelta(hours=1),
         bytearray(b"<p>v2</p>"), None, "en"),
        ("https://h.example.com/a#frag", t0 + dt.timedelta(hours=2),
         bytearray(b"<p>v3</p>"), None, "en"),
        # a genuinely different page survives independently
        ("https://h.example.com/b", t0, bytearray(b"<p>b</p>"), None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = dedup_latest_crawl_canonical(pages).collect()
    assert len(out) == 2
    winner = [r for r in out if "/a" in r.url][0]
    assert bytes(winner.html) == b"<p>v3</p>"  # the latest variant

    # malformed urls (normalize_url -> NULL) must NOT collapse together:
    # each keeps its raw url as the dedup key
    bad = [("not a url |one", t0, bytearray(b"<p>1</p>"), None, "en"),
           ("also not{a}url", t0, bytearray(b"<p>2</p>"), None, "en")]
    out2 = dedup_latest_crawl_canonical(
        spark.createDataFrame(bad, PAGES_SCHEMA)).collect()
    assert len(out2) == 2


def test_decontaminate_empty_gram_guard(spark):
    from fortissimo_spark.textstats import decontaminate
    docs = spark.createDataFrame([(1, "alpha beta"), (2, "gamma")],
                                 ["doc_id", "text"])
    bench = spark.createDataFrame([(10, ""), (11, "beta")],
                                  ["bench_id", "gram"])
    hits = decontaminate(docs, bench).collect()
    # the empty gram must NOT flag everything; only the real match remains
    assert [(r.doc_id, r.bench_id) for r in hits] == [(1, 11)]


def test_gopher_full_battery_fixtures(spark):
    """Each repetition/format rule flips on exactly the adversarial fixture
    built to trip it, and clean prose passes the whole battery."""
    from fortissimo_spark.textstats import gopher_quality_filter
    clean = ("the quick brown fox jumps over a lazy dog and then it runs far "
             "away to find some of those better meals that everyone is hoping "
             "will appear near this quiet village before evening falls tonight")
    rows = [
        (1, clean),
        (2, "dup line\n" * 10 + "unique tail"),                      # dup lines
        (3, "para one text here\n\n" * 5 + "tail para"),             # dup paras
        (4, "\n".join(f"• item {i}" for i in range(10))),            # bullets
        (5, "this goes on...\nand it keeps on...\nmore still..."),   # ellipsis
        (6, "price # tag # deal # now # buy # it # cheap # sale"),   # symbols
        (7, "buy now buy now buy now buy now click here"),           # 2-gram
    ]
    out = {r["doc_id"]: r.asDict() for r in
           gopher_quality_filter(
               spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1]["keep"] is True  # clean prose passes everything
    assert out[2]["rule_dup_lines"] is False
    assert out[2]["rule_dup_line_chars"] is False
    assert out[3]["rule_dup_paras"] is False
    assert out[3]["rule_dup_para_chars"] is False
    assert out[4]["rule_bullets"] is False and out[4]["rule_dup_lines"] is True
    assert out[5]["rule_ellipsis"] is False
    assert out[6]["rule_symbols"] is False
    assert out[7]["rule_top2gram"] is False
    # every tripped fixture is dropped
    for i in range(2, 8):
        assert out[i]["keep"] is False


def test_duplicate_clusters_one_action_per_round(spark):
    """Each label-propagation round runs ONE Spark action (the convergence
    count materializes the lazily-localCheckpointed round); r2 ran a second
    join+count per round. Asserted via a job-group job count with AQE off
    (AQE splits a query into a variable number of jobs)."""
    from fortissimo_spark.dedup import duplicate_clusters
    sc = spark.sparkContext
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])
        sc.setJobGroup("cc-rounds", "duplicate_clusters job count")
        got = {r.id: r.cluster_id
               for r in duplicate_clusters(pairs).collect()}
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-rounds"))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # chain 1-2-3-4 needs 3 changing rounds + 1 convergence round, plus the
    # final collect: 5 actions. The r2 two-action shape needed >= 9.
    assert n_jobs <= 6, f"expected <=6 jobs (one per round + collect), got {n_jobs}"


def test_near_dup_verify_sides_are_candidate_pruned(spark):
    """The exact-verify sides of near_duplicate_pairs scan the corpus
    LeftSemi-pruned to candidate ids, and the candidate set itself is a
    reused materialization (checkpointed RDD scan), not a third recompute
    of the shingle pipeline."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 60)
    pert = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("zz yy "), F.col("text")).alias("text"))
    pairs = near_duplicate_pairs(docs.union(pert), threshold=0.5)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, "verify sides must be semi-join pruned"
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, \
        "candidates must come from the materialized checkpoint"
    # signature computation (128-coefficient minhash aggregate) must NOT
    # appear in the verify plan at all — it ran once, at checkpoint time
    assert "aggregate(" not in plan.lower() or plan.count("zip_with") <= 4


def _make_png(width, height, px_at, color_type=2, filters=(0,)):
    """Hand-built PNG encoder (test-side inverse of decode_png): applies
    the requested filter type per scanline so every reconstruction path
    (None/Sub/Up/Average/Paeth) is exercised against known pixels."""
    import struct
    import zlib as _z

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", _z.crc32(ctype + data)))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(width * channels)
    for y in range(height):
        line = bytes(v for x in range(width) for v in px_at(x, y)[:channels])
        f = filters[y % len(filters)]
        raw.append(f)
        for x in range(len(line)):
            a = line[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] - a
            elif f == 2:
                v = line[x] - b
            elif f == 3:
                v = line[x] - ((a + b) >> 1)
            else:
                v = line[x] - paeth(a, b, c)
            raw.append(v & 0xFF)
        prev = line
    ihdr = (struct.pack(">II", width, height)
            + bytes([8, color_type, 0, 0, 0]))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_real_decode(spark):
    """decode_png reconstructs every filter type pixel-accurately: the same
    pixels through PNG (each filter) and through PPM must give identical
    grids, and the distributed kernel path works with no fake."""
    from fortissimo_spark.modality import decode_image, decode_png, decode_ppm

    def px(x, y):  # deterministic non-trivial gradient
        return ((x * 37 + y * 11) % 256, (x * 5 + y * 93) % 256,
                (x * 201 + y * 67) % 256, 255)

    w, h = 13, 9  # odd sizes: exercise uneven grid cells + stride math
    ppm = (f"P6\n{w} {h}\n255\n".encode()
           + bytes(v for y in range(h) for x in range(w) for v in px(x, y)[:3]))
    expect = decode_ppm(ppm)
    for f in (0, 1, 2, 3, 4):
        got = decode_png(_make_png(w, h, px, color_type=2, filters=(f,)))
        assert got == expect, f"filter {f} mismatch"
    # mixed filters per row + RGBA (alpha ignored by luma) + grayscale
    assert decode_png(_make_png(w, h, px, 2, filters=(0, 1, 2, 3, 4))) == expect
    assert decode_png(_make_png(w, h, px, 6, filters=(4, 3))) == expect
    gray = decode_png(_make_png(4, 4, lambda x, y: (77,), 0, filters=(1, 4)))
    assert gray == (4, 4, bytes([77] * 16))

    # routed through decode_image with NO deterministic_fake
    assert decode_image(_make_png(w, h, px)) == expect
    # unsupported shapes refuse honestly instead of guessing
    import zlib as _z
    import struct as _st
    bad = _make_png(4, 4, px)  # rebuild with 16-bit depth in IHDR
    ihdr = _st.pack(">II", 4, 4) + bytes([16, 2, 0, 0, 0])
    bad = (b"\x89PNG\r\n\x1a\n"
           + _st.pack(">I", len(ihdr)) + b"IHDR" + ihdr
           + _st.pack(">I", _z.crc32(b"IHDR" + ihdr)) + bad[8 + 25:])
    with pytest.raises((ValueError, NotImplementedError)):
        decode_image(bad)

    # end-to-end kernel path
    rows = [(1, "image", bytearray(_make_png(8, 4,
             lambda x, y: (255, 255, 255) if x >= 4 else (0, 0, 0),
             filters=(2, 4))), "image/png", None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = image_features(media).collect()[0]
    assert (feats.out_width, feats.out_height) == (8, 4)
    assert feats.feature[0] == pytest.approx(-1.0)
    assert feats.feature[2] == pytest.approx(127 / 128)


def test_production_fallback_partition_transform_parity(spark, pages,
                                                        tmp_path_factory):
    """Contract for the Iceberg swap (write_pages_production fallback): the
    parquet layout's partition VALUES must equal the declared transform
    semantics — crawl_date == days(warc_ts) (UTC calendar date, the
    ``days`` transform), host_bucket == pmod(xxhash64(host), 16)
    recomputed by the pure-Python XXH64 ground truth — and every row's
    file must live under its matching partition directory (the per-
    partition resume unit). Cross-checked row-for-row in DuckDB."""
    from urllib.parse import urlparse

    from fortissimo_spark.io_tables import N_HOST_BUCKETS, write_pages_production

    out = str(tmp_path_factory.mktemp("transform_parity") / "pages")
    engine = write_pages_production(pages.limit(60), spark, out)
    assert engine == "parquet"
    back = spark.read.parquet(out).withColumn("_file", F.input_file_name())
    rows = back.select("url", "warc_ts", "host", "crawl_date", "host_bucket",
                       "_file").collect()
    assert len(rows) == 60
    for r in rows:
        host = urlparse(r.url).hostname
        assert r.host == host
        h = _xxh64(host.encode("utf-8"))
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert r.host_bucket == signed % N_HOST_BUCKETS  # pmod semantics
        assert r.crawl_date == r.warc_ts.date()          # days(warc_ts), UTC
        # physical path == partition values (the resume/commit unit)
        assert f"crawl_date={r.crawl_date}/host_bucket={r.host_bucket}" in r._file

    # independent engine: DuckDB re-derives the date transform from the
    # stored timestamps and must agree with every hive partition value
    import duckdb
    n_bad = duckdb.sql(
        f"""SELECT count(*) FROM read_parquet('{out}/*/*/*.parquet',
              hive_partitioning=1)
            WHERE CAST(crawl_date AS DATE) != CAST(warc_ts AS DATE)"""
    ).fetchone()[0]
    assert n_bad == 0


@pytest.mark.skipif(os.environ.get("FULL_CORPUS") != "1",
                    reason="slow opt-in breadth run: FULL_CORPUS=1 to enable")
def test_roundtrip_full_benchmark_corpus():
    """Breadth parity over the FULL bench-scale corpus (sf0.1 documents ->
    ~110k synthesized pages incl. second crawls): every page must
    round-trip byte-identically through parse -> serialize. Opt-in
    (FULL_CORPUS=1); its pass count is recorded in BASELINE.md."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.exists(sf_dir):
        pytest.skip("sf0.1 testdata missing")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[32]")
             .appName("fortissimo-full-roundtrip")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    try:
        # amplify=20 matches the bench corpus: ~110k distinct pages
        pages_full = build_pages(spark, sf_dir, amplify=20)
        out = extract_df(pages_full, "none", verify_roundtrip=True)
        agg = out.agg(F.count("*").alias("n"),
                      F.sum(F.when(F.col("roundtrip_ok"), 0).otherwise(1))
                      .alias("bad")).collect()[0]
        assert agg.bad == 0, f"{agg.bad} of {agg.n} pages failed roundtrip"
        assert agg.n >= 100_000
        print(f"roundtrip_ok on ALL {agg.n} corpus pages")
    finally:
        spark.stop()


def test_chunk_documents_exact(spark):
    from fortissimo_spark.corpus import chunk_documents
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), (2, "a b")],
        ["doc_id", "text"])
    got = sorted((r.doc_id, r.chunk_id, r.chunk_text, r.n_chunk_tokens)
                 for r in chunk_documents(docs, 5, 2).collect())
    assert got == [
        (1, 0, "w1 w2 w3 w4 w5", 5),
        (1, 1, "w4 w5 w6 w7 w8", 5),
        (1, 2, "w7 w8 w9 w10 w11", 5),
        (1, 3, "w10 w11 w12", 3),
        (2, 0, "a b", 2),  # short doc -> exactly one (short) chunk
    ]
    # reconstruction property: stitching chunks with the overlap removed
    # yields the original token stream
    stitched = got[0][2].split() + [t for _, _, c, _ in got[1:4]
                                    for t in c.split()[2:]]
    assert stitched == [f"w{i}" for i in range(1, 13)]


def test_deterministic_sample_stable(spark):
    from fortissimo_spark.corpus import deterministic_sample
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    a = {r.doc_id for r in deterministic_sample(docs, 0.1).collect()}
    # identical keep set under a different physical layout
    b = {r.doc_id for r in
         deterministic_sample(docs.repartition(7), 0.1).collect()}
    assert a == b and 0 < len(a) < docs.count()
    # independent draw under a different salt
    c = {r.doc_id for r in deterministic_sample(docs, 0.1, salt="s2").collect()}
    assert c != a
    assert deterministic_sample(docs, 0.0).count() == 0
    assert deterministic_sample(docs, 1.0).count() == docs.count()


def test_pack_shards_matches_naive_cumsum(spark):
    from fortissimo_spark.corpus import pack_shards
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    got = {r.doc_id: (r.n_tokens, r.shard_id)
           for r in pack_shards(docs, 5000, num_partitions=6).collect()}
    # naive python reference: global cumsum in doc_id order
    toks = {r.doc_id: len(r.text.split())
            for r in docs.select("doc_id", "text").collect()}
    cum = 0
    for did in sorted(toks):
        assert got[did] == (toks[did], cum // 5000), did
        cum += toks[did]
    # partition-count invariance (two-phase == any layout)
    got1 = {r.doc_id: r.shard_id
            for r in pack_shards(docs, 5000, num_partitions=1).collect()}
    assert got1 == {k: v[1] for k, v in got.items()}


def test_bpe_train_distributed_matches_local(spark):
    """bpe_train's Spark half (word count + deterministic top-N collect)
    feeds the same pure-Python merge loop: training on the documents table
    must equal training on a driver-side recount of the same texts, and
    the top_words cap must follow the (count desc, word asc) order."""
    from collections import Counter

    from fortissimo_spark.bpe import bpe_train, train_merges_from_counts
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    counts = Counter()
    for r in docs.collect():
        counts.update(w for w in r.text.split() if w)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    assert bpe_train(docs, num_merges=30) == \
        train_merges_from_counts(ordered, 30)
    assert bpe_train(docs, num_merges=30, top_words=10) == \
        train_merges_from_counts(ordered[:10], 30)


def test_bpe_bytes_distributed_matches_local(spark):
    """Byte-level BPE: the distributed trainer (pre-token partial counts
    in the kernel -> groupBy sum -> bounded top-N collect) equals a
    driver-side recount + the same pure-Python merge loop, and the
    distributed apply kernel equals driver-side encoding doc by doc."""
    from collections import Counter

    from fortissimo_spark.bpe import (
        bpe_train_bytes, byte_symbols, encode_symbols, gpt2_pretokenize,
        train_merges_from_counts, with_bpe_byte_token_counts,
    )
    docs = load_table(spark, SF_DIR, "documents") \
        .select("doc_id", "text").limit(300)
    rows = docs.collect()
    counts = Counter()
    for r in rows:
        counts.update(gpt2_pretokenize(r.text or ""))
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    merges = bpe_train_bytes(docs, num_merges=40)
    assert merges == train_merges_from_counts(ordered, 40,
                                              symbolize=byte_symbols)
    assert bpe_train_bytes(docs, num_merges=40, top_pretokens=15) == \
        train_merges_from_counts(ordered[:15], 40, symbolize=byte_symbols)

    ranks = {m: i for i, m in enumerate(merges)}
    want = {r.doc_id: sum(len(encode_symbols(byte_symbols(t), ranks))
                          for t in gpt2_pretokenize(r.text or ""))
            for r in rows}
    got = {r.doc_id: r.n_tokens_bpe_bytes
           for r in with_bpe_byte_token_counts(docs, merges).collect()}
    assert got == want


def test_pack_shards_bpe_denominator_parity(spark):
    """pack_shards budgets in real BPE tokens when handed a
    token_count_col: shard assignment equals the naive global cumsum over
    the BPE counts, and demonstrably differs from whitespace budgeting
    (the proxy-drift the real tokenizer exists to fix)."""
    from fortissimo_spark.bpe import (
        bpe_train, encode_word, with_bpe_token_counts,
    )
    from fortissimo_spark.corpus import pack_shards
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    merges = bpe_train(docs, num_merges=12)  # few merges -> multi-token words
    with_counts = with_bpe_token_counts(docs, merges)
    got = {r.doc_id: (r.n_tokens, r.shard_id)
           for r in pack_shards(with_counts, 20000, num_partitions=6,
                                token_count_col="n_tokens_bpe").collect()}
    ranks = {m: i for i, m in enumerate(merges)}
    toks = {r.doc_id: sum(len(encode_word(w, ranks))
                          for w in r.text.split() if w)
            for r in docs.collect()}
    cum = 0
    for did in sorted(toks):
        assert got[did] == (toks[did], cum // 20000), did
        cum += toks[did]
    ws = {r.doc_id: r.shard_id
          for r in pack_shards(docs, 20000, num_partitions=6).collect()}
    assert ws != {k: v[1] for k, v in got.items()}


def test_lsh_bucket_stats_reports_truncation(spark):
    """No silent caps: the stats companion must surface exactly the buckets
    whose members were dropped by the candidate-generation cap."""
    from fortissimo_spark.dedup import (
        lsh_bucket_stats, minhash_signatures, shingle_sets,
    )
    rows = [(i, "identical text all the way down " * 3) for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    signed = minhash_signatures(shingle_sets(docs), num_hashes=16) \
        .select("id", "sig")
    hot = lsh_bucket_stats(signed, bands=4, max_bucket_size=10).collect()
    assert len(hot) == 4  # one hot bucket per band (all signatures equal)
    assert all(r.n_members == 60 and r.n_dropped == 50 for r in hot)
    # under-cap corpus: empty stats == cap did not bite
    ok = spark.createDataFrame(rows[:5], ["doc_id", "text"])
    signed_ok = minhash_signatures(shingle_sets(ok), num_hashes=16) \
        .select("id", "sig")
    assert lsh_bucket_stats(signed_ok, bands=4, max_bucket_size=10).count() == 0


def test_warc_source_end_to_end(spark, tmp_path_factory):
    """WARC ingest leg: fixture .warc + .warc.gz (per-record gzip members)
    through read_warcs -> dedup -> extract, byte-identical text; request/
    metadata/non-html/404 records skipped; charset handled by the kernel."""
    from fortissimo_spark.pages import page_for_doc
    from fortissimo_spark.warc import build_warc, parse_warc_pages, read_warcs

    docs = load_table(spark, SF_DIR, "documents") \
        .select("doc_id", "text", "lang").filter(F.col("doc_id") < 30).collect()
    records, expected = [], {}
    for r in docs:
        pg = page_for_doc(int(r.doc_id), r.text, r.lang, 0)
        records.append({"url": pg["url"],
                        "date": pg["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                        "body": bytes(pg["html"])})
        expected[pg["url"]] = r.text
        # noise records that MUST be skipped
        records.append({"url": pg["url"], "date": "2024-01-01T00:00:00Z",
                        "kind": "request"})
    records.append({"url": "http://x.example/404", "body": b"<p>gone</p>",
                    "date": "2024-01-01T00:00:00Z", "status": 404})
    records.append({"url": "http://x.example/img", "body": b"\xff\xd8jpeg",
                    "date": "2024-01-01T00:00:00Z",
                    "content_type": "image/jpeg"})

    base = tmp_path_factory.mktemp("warc")
    half = len(records) // 2
    (base / "a.warc").write_bytes(build_warc(records[:half]))
    (base / "b.warc.gz").write_bytes(build_warc(records[half:], compress=True))

    # pure-python parse: every gzip member boundary + skip rule exercised
    plain = parse_warc_pages((base / "a.warc").read_bytes())
    gz = parse_warc_pages((base / "b.warc.gz").read_bytes())
    assert len(plain) + len(gz) == len(expected)

    pages_df = read_warcs(spark, str(base))
    out = extract_df(dedup_latest_crawl(pages_df), "density") \
        .select("url", "text").collect()
    assert len(out) == len(expected)
    for r in out:
        assert r.text == expected[r.url], r.url


def test_warc_charset_flows_to_kernel(spark, tmp_path_factory):
    """A latin-1 WARC payload with a meta-charset declaration decodes
    through the kernel's re-decode retry, not in the WARC layer."""
    from fortissimo_spark.warc import build_warc, read_warcs
    html = ('<html><head><meta charset="iso-8859-1"></head>'
            '<body><p>caf\xe9 touch\xe9</p></body></html>').encode("latin-1")
    base = tmp_path_factory.mktemp("warc_cs")
    (base / "c.warc").write_bytes(build_warc(
        [{"url": "http://cs.example/a", "date": "2024-03-04T05:06:07Z",
          "body": html,
          "content_type": "text/html; charset=iso-8859-1"}]))
    out = extract_df(read_warcs(spark, str(base)), "density").collect()
    assert len(out) == 1
    assert "café touché" in out[0].text


def test_dedup_job_stages_and_resume(spark, tmp_path_factory):
    """Five-stage resumable dedup: results match the one-shot operators;
    a resume after losing the last three stages skips the (expensive)
    signature/candidate stages and converges to identical output."""
    import shutil as _sh

    from fortissimo_spark.dedup import near_duplicate_pairs
    from fortissimo_spark.dedup_job import DedupJob

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 80)
    pert = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("zz yy "), F.col("text")).alias("text"))
    corpus = docs.union(pert)

    out = str(tmp_path_factory.mktemp("dedup_job"))
    job = DedupJob(spark, out, threshold=0.5)
    stats = job.run(corpus)
    assert [s["stage"] for s in stats["stages"]] == \
        ["signatures", "candidates", "pairs", "clusters", "losers"]
    assert not any(s["skipped"] for s in stats["stages"])
    assert stats["capped_buckets"] == 0

    # pairs stage == the one-shot operator
    got_pairs = {(r.id_a, r.id_b) for r in
                 spark.read.parquet(job.pairs_path).collect()}
    want_pairs = {(r.id_a, r.id_b) for r in
                  near_duplicate_pairs(corpus, threshold=0.5).collect()}
    assert got_pairs == want_pairs

    kept1 = sorted(r.doc_id for r in job.canonical(corpus).collect())
    # every planted copy lost to its original
    assert all(i < 1000 for i in kept1)

    # kill the tail stages; resume must skip the head stages and converge
    for p in (job.pairs_path, job.clusters_path, job.losers_path):
        _sh.rmtree(p)
    stats2 = job.run(corpus)
    by_name = {s["stage"]: s for s in stats2["stages"]}
    assert by_name["signatures"]["skipped"] and by_name["candidates"]["skipped"]
    assert not by_name["pairs"]["skipped"]
    kept2 = sorted(r.doc_id for r in job.canonical(corpus).collect())
    assert kept1 == kept2
    assert os.path.exists(os.path.join(job.metrics_path, "metrics.json"))


def test_wav_g711_decode(spark):
    """G.711 µ-law/A-law WAVs decode for real: an INDEPENDENT test-side
    segment-search encoder compresses a sine, the decoder's RMS must match
    the analytic amp/sqrt(2) within companding quantization error."""
    import math
    import struct

    from fortissimo_spark.modality import _g711_alaw, _g711_ulaw, decode_wav

    def enc_ulaw(x):  # linear (±32124) -> closest µ-law byte
        return min(range(256), key=lambda b: abs(_g711_ulaw(b) - x))

    def enc_alaw(x):
        return min(range(256), key=lambda b: abs(_g711_alaw(b) - x))

    rate, n = 8000, 800
    amp = 0.5
    for tag, enc in ((7, enc_ulaw), (6, enc_alaw)):
        # closest-codeword search is slow: quantize the sine to 64 distinct
        # linear values first so the encode table is small
        lut = {}
        body = bytearray()
        for i in range(n):
            x = int(amp * 32124 * math.sin(2 * math.pi * 440 * i / rate))
            q = x - x % 64
            if q not in lut:
                lut[q] = enc(q)
            body.append(lut[q])
        fmt = struct.pack("<HHIIHH", tag, 1, rate, rate, 1, 8)
        wav = (b"RIFF" + struct.pack("<I", 20 + len(fmt) + len(body))
               + b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(body)) + bytes(body))
        got_rate, nch, dur, rms = decode_wav(wav)
        assert (got_rate, nch) == (rate, 1)
        assert dur == int(n * 1000 / rate)
        expect = amp / math.sqrt(2)
        for w_ in rms:
            assert abs(w_ - expect) / expect < 0.05, (tag, w_, expect)
    # non-G.711 compressed tag still refuses honestly
    fmt = struct.pack("<HHIIHH", 85, 1, rate, rate, 1, 0)  # mp3-in-wav
    bad = (b"RIFF" + struct.pack("<I", 20 + len(fmt)) + b"WAVEfmt "
           + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError):
        decode_wav(bad)


def test_warc_corrupt_file_skipped(spark, tmp_path_factory):
    from fortissimo_spark.warc import build_warc, read_warcs
    base = tmp_path_factory.mktemp("warc_bad")
    (base / "good.warc").write_bytes(build_warc(
        [{"url": "http://ok.example/a", "date": "2024-01-02T03:04:05Z",
          "body": b"<p>fine</p>"}]))
    (base / "bad.warc.gz").write_bytes(b"\x1f\x8btruncated-garbage")
    rows = read_warcs(spark, str(base)).collect()
    assert [r.url for r in rows] == ["http://ok.example/a"]


def test_ivf_fit_centroids_kmeans(spark):
    """Fitted coarse quantizer: k-means centroids land on planted blobs,
    stay unit-norm, and slot into the same assign/probe/search plan."""
    import math
    import random

    from fortissimo_spark.similarity import (
        cosine_topk, ivf_assign, ivf_fit_centroids, ivf_topk,
    )
    rng = random.Random(11)
    dim, blobs = 16, 3
    centers = []
    for b in range(blobs):
        c = [rng.uniform(-1, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in c))
        centers.append([x / n for x in c])
    rows = []
    for i in range(240):
        c = centers[i % blobs]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    cents = ivf_fit_centroids(emb, blobs, seed=7)
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents)
    # every fitted centroid is close to one planted blob center (cosine)
    for c in cents:
        best = max(sum(a * b for a, b in zip(c, pc)) for pc in centers)
        assert best > 0.98
    # assignment separates the blobs: each cell is pure
    assigned = ivf_assign(emb, cents)
    purity = (assigned.withColumn("blob", F.col("vec_id") % blobs)
              .groupBy("cell").agg(F.countDistinct("blob").alias("nb"))
              .agg(F.max("nb")).collect()[0][0])
    assert purity == 1


def test_warc_fractional_date_and_bad_record_tolerance(spark):
    """WARC 1.1 fractional-second dates parse; one malformed record is
    skipped without discarding the archive's other records."""
    from fortissimo_spark.warc import build_warc, parse_warc_pages
    good = build_warc([
        {"url": "http://f.example/a", "date": "2024-05-06T07:08:09.123456Z",
         "body": b"<p>frac</p>"},
        {"url": "http://f.example/b", "date": "not-a-date",
         "body": b"<p>bad</p>"},
        {"url": "http://f.example/c", "date": "2024-05-06T07:08:10Z",
         "body": b"<p>plain</p>"},
    ])
    pages = parse_warc_pages(good)
    assert [p["url"] for p in pages] == ["http://f.example/a",
                                         "http://f.example/c"]
    assert pages[0]["warc_ts"].microsecond == 123456


def test_warc_framing_failure_keeps_other_records(spark):
    """r4 ADVICE fix: a record whose header block never terminates or whose
    Content-Length is non-numeric must not escape iter_warc_records and
    discard the archive — earlier records stay yielded, and when a later
    record marker exists the iterator resyncs to it."""
    from fortissimo_spark.warc import build_warc, parse_warc_pages
    good_a = build_warc([{"url": "http://g.example/a",
                          "date": "2024-05-06T07:08:09Z",
                          "body": b"<p>a</p>"}])
    good_b = build_warc([{"url": "http://g.example/b",
                          "date": "2024-05-06T07:08:10Z",
                          "body": b"<p>b</p>"}])
    bad_len = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"Content-Length: NaN\r\n"
               b"\r\n")
    # non-numeric Content-Length mid-archive: resync keeps the b record
    pages = parse_warc_pages(good_a + bad_len + b"junk\r\n" + good_b)
    assert [p["url"] for p in pages] == ["http://g.example/a",
                                        "http://g.example/b"]
    # unterminated header block at EOF: already-yielded records survive
    trunc = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Le"
    pages = parse_warc_pages(good_a + trunc)
    assert [p["url"] for p in pages] == ["http://g.example/a"]


def test_warc_range_reader_every_cut_point():
    """Split ownership is exact: for EVERY byte cut point, the two ranges
    together yield exactly the archive's records, no loss, no duplication
    — plain (CRLF-straddling cuts included) and per-record-gzip (false
    magic inside compressed data included)."""
    import io

    from fortissimo_spark.warc import (
        build_warc, iter_warc_records, iter_warc_records_range,
    )
    for compress in (False, True):
        payload = build_warc(
            [{"url": f"http://x.example/{i}",
              "date": "2024-01-01T00:00:00Z",
              "body": f"<p>d{i}</p>".encode()} for i in range(6)],
            compress=compress)
        want = [h.get("warc-target-uri")
                for h, _ in iter_warc_records(payload)]
        for cut in range(len(payload) + 1):
            got = []
            for s, e in ((0, cut), (cut, len(payload))):
                got += [h.get("warc-target-uri")
                        for h, _ in iter_warc_records_range(
                            io.BytesIO(payload), s, e,
                            compressed=compress)]
            assert got == want, (compress, cut)


def test_warc_range_reader_marker_in_body():
    """A page body containing the literal '\\r\\nWARC/...' marker must not
    false-sync a split: boundary candidates are validated by fully parsing
    the header block, so every cut point still yields exactly the
    archive's records."""
    import io

    from fortissimo_spark.warc import (
        build_warc, iter_warc_records, iter_warc_records_range,
    )
    traps = [
        b"<p>\r\nWARC/1.0\r\nContent-Length: NaN\r\n\r\n fake</p>",
        b"<p>\r\nWARC/1.0\r\nno terminator here</p>",
        b"<p>\r\nWARC/x.y\r\nContent-Length: 3\r\n\r\n</p>",
        b"<pre>\r\nWARC/1.0\r\nWARC-Type: response\r\n</pre>",
    ]
    payload = build_warc(
        [{"url": f"http://trap.example/{i}",
          "date": "2024-01-01T00:00:00Z",
          "body": traps[i % len(traps)] + f"<i>{i}</i>".encode()}
         for i in range(5)])
    want = [h.get("warc-target-uri") for h, _ in iter_warc_records(payload)]
    assert len(want) == 6  # warcinfo + 5 responses
    step = 37  # every cut point is O(n^2) on this bigger payload
    for cut in list(range(0, len(payload) + 1, step)) + [len(payload)]:
        got = []
        for s, e in ((0, cut), (cut, len(payload))):
            got += [h.get("warc-target-uri")
                    for h, _ in iter_warc_records_range(
                        io.BytesIO(payload), s, e, compressed=False)]
        assert got == want, cut


def test_warc_range_reader_resyncs_after_bad_record():
    """A mid-split framing failure (non-numeric Content-Length) resyncs to
    the next validated record instead of dropping the split's remainder."""
    import io

    from fortissimo_spark.warc import build_warc, iter_warc_records_range
    good = build_warc(
        [{"url": f"http://r.example/{i}", "date": "2024-01-01T00:00:00Z",
          "body": f"<p>{i}</p>".encode()} for i in range(2)],
        warcinfo=False)
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"Content-Length: NaN\r\n\r\njunk body\r\n\r\n")
    # bad record between the two good ones
    first_len = len(build_warc(
        [{"url": "http://r.example/0", "date": "2024-01-01T00:00:00Z",
          "body": b"<p>0</p>"}], warcinfo=False))
    payload = good[:first_len] + bad + good[first_len:]
    got = [h.get("warc-target-uri")
           for h, _ in iter_warc_records_range(
               io.BytesIO(payload), 0, len(payload), compressed=False)]
    assert got == ["http://r.example/0", "http://r.example/1"]


def test_warc_whole_file_gzip(spark, tmp_path_factory):
    """A spec-legal whole-file-gzip WARC: read_warcs_split still returns
    exactly read_warcs' rows (split 0 owns the single member; later splits
    find no interior member and stop at their boundary probe), and an
    over-cap member is parsed as a stream rather than materialized."""
    import gzip
    import io

    from fortissimo_spark.warc import (
        build_warc, iter_warc_records, iter_warc_records_range, read_warcs,
        read_warcs_split,
    )
    import hashlib
    n = 400

    def body(i):  # incompressible so the .gz really spans several splits
        return (b"<p>" + b"".join(
            hashlib.sha256(f"{i}:{j}".encode()).digest()
            for j in range(128)) + b"</p>")

    plain = build_warc(
        [{"url": f"http://whole.example/{i}",
          "date": "2024-01-01T00:00:00Z", "body": body(i)}
         for i in range(n)])
    gz = gzip.compress(plain, mtime=0)
    assert len(gz) > (1 << 20)  # really spans multiple 1 MB splits

    # unit level: streaming kicks in under a tiny member cap and yields
    # the identical record sequence
    want = [h.get("warc-target-uri") for h, _ in iter_warc_records(plain)]
    got = [h.get("warc-target-uri")
           for h, _ in iter_warc_records_range(
               io.BytesIO(gz), 0, len(gz), compressed=True,
               max_member_bytes=1 << 16)]
    assert got == want

    base = tmp_path_factory.mktemp("warc_whole")
    (base / "whole.warc.gz").write_bytes(gz)
    whole = {r.url for r in read_warcs(spark, str(base))
             .select("url").collect()}
    split = [r.url for r in read_warcs_split(spark, str(base),
                                             target_split_mb=1)
             .select("url").collect()]
    assert len(split) == n and set(split) == whole


def test_warc_split_read_large_archive(spark, tmp_path_factory):
    """read_warcs_split on a large synthetic .warc.gz + a plain .warc:
    byte-identical page set to read_warcs, with genuinely many byte-range
    tasks per file — the >2 GB-archive path scaled down (memory bound is
    split size + largest record, not archive size)."""
    from fortissimo_spark.warc import build_warc, read_warcs, read_warcs_split
    base = tmp_path_factory.mktemp("warc_split")
    n = 4000
    recs = [{"url": f"http://big.example/{i}",
             "date": "2024-01-01T00:00:00Z",
             "body": (f"<p>doc {i} " + "filler words here "
                      * (100 + i % 211) + "</p>").encode()}
            for i in range(n)]
    (base / "big.warc.gz").write_bytes(
        build_warc(recs[: n // 2], compress=True))
    (base / "big.warc").write_bytes(build_warc(recs[n // 2:]))

    whole = read_warcs(spark, str(base)).select("url", "html")
    split = read_warcs_split(spark, str(base), target_split_mb=1) \
        .select("url", "html")
    assert split.rdd.getNumPartitions() > 5  # real byte-range parallelism
    a = {r.url: bytes(r.html) for r in whole.collect()}
    b = {r.url: bytes(r.html) for r in split.collect()}
    assert len(b) == n and a == b


def test_ivf_fitted_centroids_partitioned_path(spark, tmp_path_factory):
    """Fitted centroids thread through write_ivf_partitioned ->
    ivf_topk_partitioned and agree with the in-plan ivf_topk given the
    same quantizer (the drop-in contract)."""
    from fortissimo_spark.similarity import (
        ivf_fit_centroids, ivf_topk, ivf_topk_partitioned,
        write_ivf_partitioned,
    )
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = ivf_fit_centroids(emb, 4, seed=7)
    out = str(tmp_path_factory.mktemp("ivf_fit") / "cells")
    write_ivf_partitioned(emb, out, cents=cents)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [(r.vec_id, r.cos_sim) for r in
           ivf_topk_partitioned(spark, out, qvec, 10, n_probe=2,
                                cents=cents, exclude_vec_id=0).collect()]
    want = [(r.vec_id, r.cos_sim) for r in
            ivf_topk(emb, 0, 10, n_probe=2, cents=cents).collect()]
    assert got == want and len(got) == 10


def test_streaming_dedup_state_evicts(spark, tmp_path_factory):
    """The r3 fix, proven at runtime: dropDuplicatesWithinWatermark must
    EVICT url state once the watermark passes (plain dropDuplicates keyed
    on url holds every url forever — the 10^12-doc OOM). Feed batches with
    advancing event times and read the state-operator row counts."""
    import datetime
    import json as _json

    from fortissimo_spark.schema import PAGES_SCHEMA
    from fortissimo_spark.streaming import streaming_extract

    base = tmp_path_factory.mktemp("evict")
    in_dir, ckpt = str(base / "in"), str(base / "ckpt")
    os.makedirs(in_dir)

    def batch(name, day, urls):
        ts = datetime.datetime(2024, 3, day, 12, 0, 0)
        rows = [(f"http://e.example/{u}", ts, bytearray(b"<p>x</p>"), None,
                 "en") for u in urls]
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(os.path.join(in_dir, name))

    batch("b1", 1, range(40))
    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(in_dir + "/*"))
    q = (streaming_extract(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("evict_probe")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # 40 days-1 urls are in state now
        s1 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert s1 >= 40
        # a batch 10 days later pushes the watermark far past day 1:
        # all day-1 entries must be evicted, leaving only the new urls
        batch("b2", 11, range(1000, 1010))
        q.processAllAvailable()
        batch("b3", 11, range(2000, 2010))  # one more to apply the watermark
        q.processAllAvailable()
        s2 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert s2 < 40, _json.dumps(q.lastProgress["stateOperators"][0])
    finally:
        q.stop()


def test_remove_duplicate_paragraphs(spark):
    from fortissimo_spark.textstats import remove_duplicate_paragraphs
    rows = [
        (1, "unique one\n\nCOOKIE BANNER\n\nbody text a"),
        (2, "COOKIE BANNER\n\nbody text b"),
        (3, "body text c\n\nCOOKIE BANNER\n\ntail c"),
        (4, "all alone here"),
        (5, "COOKIE BANNER"),
    ]
    out = {r.doc_id: (r.text_clean, r.n_paras_removed)
           for r in remove_duplicate_paragraphs(
               spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1] == ("unique one\n\nbody text a", 1)
    assert out[2] == ("body text b", 1)
    assert out[3] == ("body text c\n\ntail c", 1)
    assert out[4] == ("all alone here", 0)
    assert out[5] == ("", 1)  # fully-boilerplate doc survives as empty
    # looser cap keeps paragraphs up to the count
    out3 = {r.doc_id: r.n_paras_removed
            for r in remove_duplicate_paragraphs(
                spark.createDataFrame(rows, ["doc_id", "text"]),
                max_count=4).collect()}
    assert all(v == 0 for v in out3.values())


def test_strip_host_boilerplate(spark):
    """Host-template line strip: chrome repeated across a host's pages
    is removed from all of them, the same line on a DIFFERENT host with
    too few occurrences survives, blank lines survive, trimming
    normalizes the match key, and per-doc line order is preserved."""
    from fortissimo_spark.textstats import strip_host_boilerplate
    rows = [
        (1, "a.com", "NAV | HOME\nbody one\nFOOTER (c)"),
        (2, "a.com", "  NAV | HOME  \n\nbody two"),
        (3, "a.com", "NAV | HOME\nbody three\nFOOTER (c)"),
        (4, "a.com", "body four\nNAV | HOME"),
        # b.com has ONE page with the same nav line: below min_docs,
        # so on this host it is content, not chrome.
        (5, "b.com", "NAV | HOME\nbody five"),
        (6, "b.com", "body six"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    out = {r.doc_id: (r.text_main, r.n_lines_removed)
           for r in strip_host_boilerplate(df, frac=0.5).collect()}
    # FOOTER is on 2/4 of a.com pages: exactly at the frac=0.5 floor,
    # so it is chrome here
    assert out[1] == ("body one", 2)
    # trimmed variant matches the key; blank line survives
    assert out[2] == ("\nbody two", 1)
    assert out[3] == ("body three", 2)
    assert out[4] == ("body four", 1)
    assert out[5] == ("NAV | HOME\nbody five", 0)
    assert out[6] == ("body six", 0)
    # ... but survives a 0.75 floor (2 < 3)
    loose = {r.doc_id: (r.text_main, r.n_lines_removed)
             for r in strip_host_boilerplate(df, frac=0.75).collect()}
    assert loose[1] == ("body one\nFOOTER (c)", 1)
    assert loose[3] == ("body three\nFOOTER (c)", 1)


def test_quality_classifier_train_and_score(spark):
    """Weak-label quality classifier: train LR on gibberish-vs-prose
    labels, score held-out docs distributed; gibberish must score low,
    prose high, and the scoring plan must contain no Python stages."""
    from fortissimo_spark.textstats import (
        score_quality, train_quality_classifier,
    )
    prose = ("the quick brown fox jumps over a lazy dog and then it runs "
             "far away to find some of those better meals that everyone "
             "is hoping will appear near this quiet village tonight")
    def gib(i):
        return " ".join(f"x{j}9#@!{i}" for j in range(30))
    labeled = spark.createDataFrame(
        [(i, prose + f" extra {i}", 1) for i in range(30)]
        + [(100 + i, gib(i), 0) for i in range(30)],
        ["doc_id", "text", "label"])
    model = train_quality_classifier(labeled)
    held = spark.createDataFrame(
        [(1, prose + " held out"), (2, gib(99))], ["doc_id", "text"])
    got = {r.doc_id: (r.quality_prob, r.quality_pred)
           for r in score_quality(held, model).collect()}
    assert got[1][1] == 1 and got[1][0] > 0.5
    assert got[2][1] == 0 and got[2][0] < 0.5
    plan = score_quality(held, model)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_domain_controls(spark):
    """Blocklist: exact host AND any-depth subdomain match, parseable-url
    survivors keep all columns, NULL-host rows survive. Cap: deterministic
    hash-ordered top-N per host, with the WindowGroupLimit rewrite in the
    plan (map-side pre-prune => a mega-host never ships all its rows)."""
    from fortissimo_spark.urls import cap_per_host, filter_blocked_hosts
    rows = [(i, f"https://h{i % 3}.example.com/p/{i}", f"t{i}")
            for i in range(60)]
    rows += [(100, "https://spam.net/x", "t"),
             (101, "https://ads.spam.net/x", "t"),
             (102, "https://deep.ads.spam.net/x", "t"),
             (103, "https://notspam.net/x", "t"),
             (104, "not a url at all", "t")]
    docs = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    kept = filter_blocked_hosts(docs, ["spam.net"])
    ids = {r.doc_id for r in kept.collect()}
    assert {100, 101, 102}.isdisjoint(ids)
    assert {103, 104} <= ids and len(ids) == 62
    assert kept.columns == ["doc_id", "url", "text"]

    capped = cap_per_host(kept, 10, salt="s")
    per_host = {}
    for r in capped.collect():
        host = r.url.split("/")[2] if "://" in r.url else None
        per_host.setdefault(host, set()).add(r.doc_id)
    assert all(len(v) <= 10 for v in per_host.values())
    # determinism across layouts
    again = {r.doc_id for r in
             cap_per_host(kept.repartition(7), 10, salt="s").collect()}
    assert again == {r.doc_id for r in capped.collect()}
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_bigram_perplexity_ground_truth(spark):
    """Stupid-backoff bigram perplexity against hand-computed values:
    corpus 'a b a b' + 'a b c' gives uni a:3 b:3 c:1 (N=7), bi (a,b):3
    (b,a):1 (b,c):1. OOV bigrams hit alpha*c(w)/N; <2-token docs are NULL;
    both count joins must be broadcast and the plan Python-free."""
    import math

    from fortissimo_spark.lm import train_bigram_lm, with_perplexity
    train = spark.createDataFrame([(1, "a b a b"), (2, "a b c")],
                                  "doc_id long, text string")
    lm = train_bigram_lm(train)
    assert lm.total_tokens == 7
    score = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z a"), (4, "z q"), (5, "a"),
         (6, "")], "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.ppl)
           for r in with_perplexity(score, lm).collect()}
    assert got[1] == (3, round(3 ** (1 / 3), 6))       # 1, 1/3, 1
    assert got[2] == (2, round(math.sqrt(3), 6))       # 1, 1/3
    assert got[3] == (1, round(7 / (0.4 * 3), 6))      # alpha*c(a)/N
    assert got[4] == (1, round(7 / 0.4, 6))            # OOV floor 1/N
    assert got[5] == (0, None) and got[6] == (0, None)
    plan = with_perplexity(score, lm)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "Python" not in plan
    # truncation is deterministic: top-2 bigrams keep (a,b) then (b,a)
    lm2 = train_bigram_lm(train, top_v=2)
    kept = {(r.w1, r.w2) for r in lm2.tables[1].collect()}
    assert kept == {("a", "b"), ("b", "a")}


def test_kn_perplexity_ground_truth(spark):
    """Interpolated Kneser-Ney against an independent Python replay:
    corpus 'a b a b' + 'a b c' + 'b a c a' gives bigram types
    (a,b):3 (b,a):2 (b,c):1 (a,c):1 (c,a):1, so n1=3 n2=1 ->
    D = 0.6, 5 types. Seen bigrams interpolate discounted ML with the
    continuation term; unseen contexts score Pcont; unseen
    continuations floor at one type. Plan must be broadcast-joined and
    Python-free."""
    import math

    from fortissimo_spark.lm import train_kn_lm, with_perplexity_kn
    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "b a c a")],
        "doc_id long, text string")
    lm = train_kn_lm(train)
    assert lm.discount == 0.6 and lm.n_types == 5
    bi = {(r.w1, r.w2): r.c for r in lm.bigrams.collect()}
    ctx = {r.w1: (r.c_ctx, r.n_follow) for r in lm.contexts.collect()}
    cont = {r.w2: r.n_prec for r in lm.continuations.collect()}
    assert bi == {("a", "b"): 3, ("b", "a"): 2, ("b", "c"): 1,
                  ("a", "c"): 1, ("c", "a"): 1}
    assert ctx == {"a": (4, 2), "b": (3, 2), "c": (1, 1)}
    assert cont == {"a": 2, "b": 1, "c": 2}

    def p(w1, w2):
        pc = cont.get(w2, 1) / 5.0
        if w1 in ctx:
            c_ctx, nf = ctx[w1]
            if (w1, w2) in bi:
                return (max(bi[(w1, w2)] - 0.6, 0.0)
                        + 0.6 * nf * pc) / c_ctx
            # seen context, unseen bigram: back-off weight x Pcont so
            # the conditional distribution per context sums to 1
            return 0.6 * nf * pc / c_ctx
        return pc

    def ppl(*pairs):
        return round(10 ** (-sum(math.log10(p(a, b)) for a, b in pairs)
                            / len(pairs)), 6)

    score = spark.createDataFrame(
        [(1, "a b a b"), (2, "z a"), (3, "b q"), (4, "a"), (5, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.ppl)
           for r in with_perplexity_kn(score, lm).collect()}
    assert got[1] == (3, ppl(("a", "b"), ("b", "a"), ("a", "b")))
    assert got[2] == (1, ppl(("z", "a")))      # unseen context -> Pcont
    assert got[3] == (1, ppl(("b", "q")))      # seen ctx -> back-off x floor
    assert got[4] == (0, None) and got[5] == (0, None)
    plan = with_perplexity_kn(score, lm)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "Python" not in plan
    # deterministic truncation: continuation tie (a=2, c=2) falls to w2
    lm2 = train_kn_lm(train, top_v=2)
    assert {(r.w1, r.w2) for r in lm2.bigrams.collect()} \
        == {("a", "b"), ("b", "a")}
    assert {r.w2 for r in lm2.continuations.collect()} == {"a", "c"}
    assert {r.w1 for r in lm2.contexts.collect()} == {"a", "b"}


def test_curate_corpus_composition(spark):
    """The composed recipe: exact copies lose to the min id, OOV junk and
    1-token stubs fail the perplexity gate, quotas bind, and the stages
    agree with running the standalone operators in sequence."""
    from fortissimo_spark.lm import train_bigram_lm
    from fortissimo_spark.pipeline import curate_corpus
    docs = load_table(spark, SF_DIR, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 100)
    dup = docs.filter(F.col("doc_id") == 3).select(
        F.lit(5000).alias("doc_id"), "lang", "text")
    junk = spark.createDataFrame(
        [(6000, "en", "zzqx1 zzqx2 zzqx3 zzqx4"), (6001, "en", "solo")],
        "doc_id long, lang string, text string")
    lm = train_bigram_lm(docs)
    kept = {r.doc_id for r in
            curate_corpus(docs.union(dup).union(junk), lm,
                          ppl_cutoff=100.0).collect()}
    assert 3 in kept and 5000 not in kept           # dedup: copy loses
    assert 6000 not in kept and 6001 not in kept    # ppl gate
    # quota stage bounds per-lang counts
    capped = curate_corpus(docs, lm, ppl_cutoff=100.0,
                           quotas={"en": 5, "es": 2}).collect()
    per = {}
    for r in capped:
        per[r.lang] = per.get(r.lang, 0) + 1
    assert set(per) <= {"en", "es"}
    assert per.get("en", 0) <= 5 and per.get("es", 0) <= 2


def test_stratified_sample_quotas(spark):
    """Quotas bind per stratum, non-whitelisted strata drop entirely, and
    the kept set is identical across partitioning (determinism contract).
    WindowGroupLimit pre-prune must appear in the plan."""
    from fortissimo_spark.corpus import stratified_sample
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    quotas = {"en": 10, "es": 3}
    out = stratified_sample(docs, quotas, "lang", salt="s")
    rows = [(r.doc_id, r.lang) for r in out.collect()]
    per = {}
    for _, lang in rows:
        per[lang] = per.get(lang, 0) + 1
    assert per == {"en": 10, "es": 3}
    again = {(r.doc_id, r.lang) for r in
             stratified_sample(docs.repartition(13), quotas, "lang",
                               salt="s").collect()}
    assert again == set(rows)
    assert "WindowGroupLimit" in \
        out._jdf.queryExecution().executedPlan().toString()


def test_incremental_new_pages(spark):
    """Delta-ingest: unchanged rows drop, edited rows tag 'changed', new
    urls tag 'new'; all current columns survive; a url with several
    previous hashes (recrawl history) only fires when the hash is
    genuinely unseen."""
    from fortissimo_spark.corpus import incremental_new_pages
    prev = spark.createDataFrame(
        [(1, "u1", b"aaa"), (2, "u2", b"bbb"),
         (3, "u3", b"c1"), (3, "u3", b"c2")],  # u3 seen with two versions
        ["doc_id", "url", "html"])
    cur = spark.createDataFrame(
        [(1, "u1", b"aaa"),       # unchanged -> drop
         (2, "u2", b"BBB"),       # changed
         (3, "u3", b"c2"),        # matches an OLD version -> drop
         (3, "u3", b"c3"),        # genuinely new content -> changed
         (9, "u9", b"zzz")],      # new url
        ["doc_id", "url", "html"])
    out = incremental_new_pages(cur, prev)
    got = {(r.url, bytes(r.html)): r.change for r in out.collect()}
    assert got == {("u2", b"BBB"): "changed", ("u3", b"c3"): "changed",
                   ("u9", b"zzz"): "new"}
    assert set(out.columns) == {"doc_id", "url", "html", "change"}


def test_incremental_new_pages_null_content(spark):
    """NULL content must not vanish through three-valued logic: NULL at a
    previously-real-content url is 'changed', NULL at a never-seen url is
    'new', NULL where the previous crawl was also NULL is unchanged."""
    from fortissimo_spark.corpus import incremental_new_pages
    prev = spark.createDataFrame(
        [(1, "u1", b"aaa"), (2, "u2", None), (3, "u3", b"ccc")],
        "doc_id long, url string, html binary")
    cur = spark.createDataFrame(
        [(1, "u1", None),         # real -> NULL: changed
         (2, "u2", None),         # NULL -> NULL: unchanged, drop
         (3, "u3", b"ccc"),       # unchanged, drop
         (2, "u2", b"now"),       # NULL -> real: changed
         (9, "u9", None)],        # new url with NULL content: new
        "doc_id long, url string, html binary")
    got = {(r.url, r.html if r.html is None else bytes(r.html)): r.change
           for r in incremental_new_pages(cur, prev).collect()}
    assert got == {("u1", None): "changed", ("u2", b"now"): "changed",
                   ("u9", None): "new"}


def test_incremental_curate_matches_full_recompute(spark):
    """Delta-curation == full curate_corpus over the current snapshot:
    stale winners retire, their byte-identical copies at unchanged urls
    are re-admitted (the orphan path), new dups lose to kept winners,
    junk is gated — and the previous snapshot's payload column never
    crosses an Exchange (map-side md5 only)."""
    import contextlib
    import io

    from fortissimo_spark.lm import train_bigram_lm
    from fortissimo_spark.pipeline import curate_corpus, incremental_curate

    good = ["the quick brown fox jumps over the lazy dog",
            "a stream of pages flows through the filter stack",
            "join merge filter order window batch scan vector",
            "the filter stack scores every page the crawler finds"]
    prev_rows = [(1, "u1", "en", good[0]), (2, "u2", "en", good[1]),
                 (3, "u3", "de", good[2]), (4, "u4", "en", good[3]),
                 (50, "u50", "en", good[0])]  # dup of doc 1: loses round 1
    prev = spark.createDataFrame(
        prev_rows, "doc_id long, url string, lang string, text string")
    lm = train_bigram_lm(
        spark.createDataFrame([(r[0], r[3]) for r in prev_rows],
                              "doc_id long, text string"), top_v=500)
    empty = spark.createDataFrame([], prev.schema)
    empty_out = spark.createDataFrame(
        [], "doc_id long, lang string, ppl double, url string, "
            "text_hash string")
    prev_out = incremental_curate(prev, empty, empty_out, lm,
                                  ppl_cutoff=100.0).localCheckpoint()
    assert {r.doc_id for r in prev_out.collect()} == {1, 2, 3, 4}

    cur_rows = [
        (1, "u1", "en", good[0] + " updated edition"),  # changed: doc 50
        (2, "u2", "en", good[1]),                       #   must re-admit
        (3, "u3", "de", good[2]),                       # (u4 vanished)
        (50, "u50", "en", good[0]),
        (100, "u100", "en", good[1]),                   # dup of kept 2
        (101, "u101", "en", "a fresh page the crawler finds"),
        (102, "u102", "en", "qqqa qqqb qqqc qqqd"),     # gated
    ]
    cur = spark.createDataFrame(
        cur_rows, "doc_id long, url string, lang string, text string")
    inc = incremental_curate(cur, prev, prev_out, lm, ppl_cutoff=100.0)
    got = sorted((r.doc_id, r.lang, round(r.ppl, 6))
                 for r in inc.collect())
    want = sorted((r.doc_id, r.lang, round(r.ppl, 6))
                  for r in curate_corpus(cur, lm,
                                         ppl_cutoff=100.0).collect())
    assert got == want
    assert 50 in {g[0] for g in got}     # orphan re-admitted
    assert 4 not in {g[0] for g in got}  # vanished url retired

    # prior payloads never shuffle: previous's text attribute (by exprId)
    # must not feed any Exchange — only its (url, md5) projection does
    outs = prev._jdf.queryExecution().analyzed().output()
    prev_text_attr = next(
        f"text#{outs.apply(i).exprId().id()}"
        for i in range(outs.size()) if outs.apply(i).name() == "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        inc.explain("formatted")
    blocks = buf.getvalue().split("\n\n")
    for blk in blocks:
        if ") Exchange" in blk.splitlines()[0] if blk.strip() else False:
            assert prev_text_attr not in blk, blk
    # the attribute does appear in the plan at all (sanity: the marker
    # is checkable, not vacuously absent)
    assert prev_text_attr in buf.getvalue()


def test_stratified_sample_empty_quotas(spark):
    """An empty quota map is an empty whitelist: empty result, same
    schema, no schema-inference crash."""
    from fortissimo_spark.corpus import stratified_sample
    docs = spark.createDataFrame(
        [(1, "en"), (2, "de")], ["doc_id", "lang"])
    out = stratified_sample(docs, {}, "lang")
    assert out.columns == docs.columns and out.count() == 0


def test_semantic_dedup_planted(spark):
    """SemDedup: scaled copies (cosine exactly 1, same cell) each lose to
    their original; unique vectors survive; the cell cap reports through
    semantic_cell_stats instead of failing silently."""
    from fortissimo_spark.similarity import (
        ivf_centroids, semantic_cell_stats, semantic_dedup,
    )
    emb = load_table(spark, SF_DIR, "embeddings") \
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("embedding"))
    copies = (emb.filter(F.col("vec_id") < 4)
              .select((F.col("vec_id") + 1000).alias("vec_id"),
                      F.transform("embedding", lambda x: x * 2.0)
                      .alias("embedding")))
    cents = ivf_centroids(64, 8, 7)
    losers = {r.vec_id: r.canonical_id
              for r in semantic_dedup(emb.union(copies), 0.97,
                                      cents=cents).collect()}
    for i in range(4):
        assert losers.get(1000 + i) == i
    assert all(v < 1000 for v in losers.values())
    # cap observability: a tiny cap must surface every oversized cell
    hot = semantic_cell_stats(emb, cents=cents, max_cell_size=5).collect()
    assert hot and all(r.n_dropped == r.n_members - 5 for r in hot)


def test_hyperplane_bucket_stats(spark):
    from fortissimo_spark.similarity import hyperplane_bucket_stats
    emb = spark.createDataFrame([(i, [1.0] * 8) for i in range(60)],
                                ["vec_id", "embedding"])
    hot = hyperplane_bucket_stats(emb, num_planes=4, dim=8, num_probes=2,
                                  max_bucket_size=10).collect()
    assert len(hot) == 2  # one constant-vector bucket per probe
    assert all(r.n_members == 60 and r.n_dropped == 50 for r in hot)
    ok = spark.createDataFrame([(i, [float(i + j) for j in range(8)])
                                for i in range(5)], ["vec_id", "embedding"])
    assert hyperplane_bucket_stats(ok, num_planes=4, dim=8, num_probes=2,
                                   max_bucket_size=10).count() == 0
    # cap disabled -> nothing CAN be dropped -> empty, not all-dropped
    assert hyperplane_bucket_stats(emb, num_planes=4, dim=8, num_probes=2,
                                   max_bucket_size=0).count() == 0


def test_script_ratios_and_widened_langid(spark):
    from fortissimo_spark.textstats import with_langid, with_script_ratios
    rows = [
        (1, "Это русский текст для проверки кириллицы"),
        (2, "这是中文文本"),
        (3, "the cat and the dog went to a house that is red"),
        (4, "12345 --- 999"),
        (5, "il gatto che non va di fretta per la strada"),
        (6, "de kat en het huis van een man die ik ken niet"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    s = {r.doc_id: r.script_guess for r in with_script_ratios(df).collect()}
    assert s[1] == "cyrillic" and s[2] == "han" and s[3] == "latin"
    assert s[4] == "other"
    lang = {r.doc_id: r.langid_guess for r in with_langid(df).collect()}
    assert lang[3] == "en" and lang[5] == "it" and lang[6] == "nl"
    # non-Latin docs score 0 on every Latin marker profile — exactly why
    # the script gate exists
    scores = {r.doc_id: r.langid_score for r in with_langid(df).collect()}
    assert scores[1] == 0 and scores[2] == 0


def test_redact_pii(spark):
    from fortissimo_spark.textstats import redact_pii
    rows = [
        (1, "contact bob.smith+x@ex-ample.co.uk or call +1 (555) 123-4567"),
        (2, "server at 192.168.001.1 and 10.0.0.255 rebooted"),
        (3, "no pii here at all just words"),
        (4, "year 2024 had 365 days"),  # short digit runs are NOT phones
    ]
    out = {r.doc_id: r for r in redact_pii(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].text_redacted == "contact <EMAIL> or call <PHONE>"
    assert (out[1].n_email, out[1].n_phone) == (1, 1)
    assert out[2].text_redacted == "server at <IP> and <IP> rebooted"
    assert out[2].n_ipv4 == 2
    assert out[3].text_redacted == rows[2][1] and out[4].n_phone == 0


def test_trigram_perplexity_hand_computed(spark):
    """Trigram stupid backoff against hand-derived scores on a 3-doc
    corpus: kept-trigram ratio, backoff-to-bigram (alpha), double-backoff
    OOV floor (alpha^2 / N), and the <3-token NULL degenerate."""
    from fortissimo_spark.lm import train_trigram_lm, with_perplexity_trigram
    train = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d")],
        "doc_id long, text string")
    lm = train_trigram_lm(train, top_v=100)
    assert lm.total_tokens == 9
    probe = spark.createDataFrame(
        [(10, "a b c"),   # tri (a,b,c)=2 / bi (a,b)=3 -> 2/3, ppl 1.5
         (11, "a b d"),   # 1/3 -> ppl 3.0
         (12, "c a b"),   # tri miss -> a * bi(a,b)/uni(a) = 0.4 -> 2.5
         (13, "z z z"),   # full miss -> a * a * 1/9 -> ppl 56.25
         (14, "a b"),     # no trigram -> NULL, n=0
         (15, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_trigrams, r.ppl3)
           for r in with_perplexity_trigram(probe, lm).collect()}
    assert got[10] == (1, 1.5)
    assert got[11] == (1, 3.0)
    assert got[12] == (1, 2.5)
    assert got[13] == (1, 56.25)
    assert got[14] == (0, None) and got[15] == (0, None)
    # backoff hierarchy: a doc of kept trigrams scores better than one
    # that backs off, which beats the OOV floor
    assert got[10][1] < got[12][1] < got[13][1]


def test_semantic_dedup_hot_cell_split_preserves_recall(spark):
    """A planted near-dup whose copy carries a LARGE id inside a hot
    cell: the id-ordered cap alone truncates the copy away (pair missed),
    hot-cell re-quantization keeps it — identical vectors land in the
    same subcell by construction — while still bounding every block."""
    from fortissimo_spark.similarity import (
        ivf_centroids, semantic_cell_stats, semantic_dedup,
    )
    dim = 8
    cents = ivf_centroids(dim, 4, 7)
    # a DIVERSE hot cell (the realistic mega-cell): deterministic LCG
    # vectors, keeping only those the coarse quantizer maps to cell 0
    from fortissimo_spark.similarity import _argmax_cell, ivf_assign

    def lcg_vecs(n, seed=11):
        s = seed
        out = []
        while len(out) < n:
            v = []
            for _ in range(dim):
                s = (s * 6364136223846793005 + 1442695040888963407) \
                    & 0xFFFFFFFFFFFFFFFF
                v.append((s >> 11) / float(1 << 53) * 2.0 - 1.0)
            out.append(v)
        return out

    pool = lcg_vecs(400)
    import math

    def cell_of(v):
        dots = [sum(a * b for a, b in zip(v, c)) for c in cents]
        return max(range(len(cents)), key=lambda i: (dots[i], -i))

    members = [v for v in pool if cell_of(v) == 0][:30]
    assert len(members) == 30
    rows = [(i, v) for i, v in enumerate(members)]
    rows.append((999, [x * 1.5 for x in members[0]]))  # copy of id 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert (ivf_assign(emb, cents).select("cell").distinct().count() == 1)

    subcents = ivf_centroids(dim, 16, 9001)  # finer second level
    unsplit = {r.vec_id: r.canonical_id
               for r in semantic_dedup(emb, 0.99, cents=cents,
                                       max_cell_size=6,
                                       split_hot_cells=False).collect()}
    assert 999 not in unsplit  # the old cap loses the true near-dup
    split = {r.vec_id: r.canonical_id
             for r in semantic_dedup(emb, 0.99, cents=cents,
                                     max_cell_size=6,
                                     subcents=subcents).collect()}
    assert split.get(999) == 0  # re-quantization keeps it
    # observability: blocks still over the cap after splitting (if any)
    # report per (cell, sub); the unsplit view reports the hot cell itself
    hot = semantic_cell_stats(emb, cents=cents, max_cell_size=6,
                              split_hot_cells=False).collect()
    assert len(hot) == 1 and hot[0].n_members == 31 and hot[0].sub == -1


def test_streaming_curate_matches_batch_and_bounds_state(spark,
                                                         tmp_path_factory):
    """The composed curation recipe runs incrementally: streaming
    dedup+gate over ordered micro-batches produces exactly the batch
    curate_corpus rows on the same corpus (first-seen == min-id winner
    because drops arrive in crawl order), and the content-hash dedup
    state EVICTS once the watermark passes — bounded by rate x horizon."""
    import datetime
    import time as _time

    from fortissimo_spark.lm import train_bigram_lm
    from fortissimo_spark.pipeline import curate_corpus
    from fortissimo_spark.streaming import streaming_curate

    base = tmp_path_factory.mktemp("stream_curate")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")
    os.makedirs(in_dir)

    good = ["the quick brown fox jumps over the lazy dog again",
            "a stream of pages flows through the filter stack",
            "join merge filter order window batch scan vector"]
    drops = {
        # d1: the min-id copy of every dup group + a gibberish doc
        "d1": [(1, "en", good[0], 1), (2, "en", good[1], 1),
               (3, "de", good[2], 1), (4, "en", "zzq wqx qqv zxo vvq", 1)],
        # d2 (same day, later file): dups of 1 and 2 + a fresh doc
        "d2": [(101, "en", good[0], 1), (102, "en", good[1], 1),
               (5, "es", good[2] + " extended here", 1)],
        # d3: ten days later -> watermark passes d1/d2 state
        "d3": [(6, "en", good[1] + " fresh content now", 11)],
    }

    def write_drop(name):
        rows = [(i, lang, text,
                 datetime.datetime(2024, 3, day, 12, 0, 0))
                for i, lang, text, day in drops[name]]
        spark.createDataFrame(
            rows, "doc_id long, lang string, text string, "
                  "crawl_ts timestamp").coalesce(1) \
            .write.mode("overwrite").parquet(os.path.join(in_dir, name))
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order

    all_rows = [r for name in ("d1", "d2", "d3") for r in drops[name]]
    train = spark.createDataFrame([(r[0], r[2]) for r in all_rows],
                                  "doc_id long, text string")
    lm = train_bigram_lm(train, top_v=500)

    write_drop("d1")
    write_drop("d2")
    q = streaming_curate(spark, in_dir + "/*", out_dir, ckpt, lm=lm,
                         ppl_cutoff=50.0, watermark="1 hour")
    try:
        q.processAllAvailable()
        s1 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert s1 >= 5  # d1+d2 distinct texts held in state

        batch_docs = spark.createDataFrame(
            [(r[0], r[1], r[2]) for n in ("d1", "d2") for r in drops[n]],
            "doc_id long, lang string, text string")
        want = {(r.doc_id, r.lang, r.ppl)
                for r in curate_corpus(batch_docs, lm,
                                       ppl_cutoff=50.0).collect()}
        got = {(r.doc_id, r.lang, r.ppl)
               for r in spark.read.parquet(out_dir + "/batch_id=*")
               .collect()}
        assert got == want and len(want) >= 3
        assert not any(d in {x[0] for x in got} for d in (101, 102))

        # day-11 drop pushes the watermark past d1/d2: their hash state
        # must evict (two drops so the advanced watermark gets applied)
        write_drop("d3")
        q.processAllAvailable()
        spark.createDataFrame(
            [(7, "en", "one more doc to tick the watermark forward",
              datetime.datetime(2024, 3, 11, 13, 0, 0))],
            "doc_id long, lang string, text string, crawl_ts timestamp") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(in_dir, "d4"))
        q.processAllAvailable()
        s2 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert s2 < s1
    finally:
        q.stop()


def test_streaming_curate_ngram_gate_and_metrics(spark, tmp_path_factory):
    """streaming_curate with (a) an NgramLM gate — must dispatch to the
    order-n scorer exactly as batch curate_corpus does, producing the
    identical surviving rows — and (b) a metrics sink whose per-batch
    lineage rows (docs_in / dedup_dropped / gate_dropped / docs_out)
    reconcile with the batch recipe's counts on the same corpus."""
    import datetime
    import time as _time

    from fortissimo_spark.lm import train_ngram_lm
    from fortissimo_spark.pipeline import curate_corpus
    from fortissimo_spark.streaming import curation_metrics, streaming_curate

    base = tmp_path_factory.mktemp("stream_curate_ngram")
    in_dir, out_dir = str(base / "in"), str(base / "out")
    ckpt, metrics = str(base / "ckpt"), str(base / "metrics")
    os.makedirs(in_dir)

    good = ["the quick brown fox jumps over the lazy dog again and again",
            "a stream of pages flows through the filter stack every hour",
            "the filter stack scores every page the crawler finds daily"]
    drops = {
        "d1": [(1, "en", good[0]), (2, "en", good[1]),
               (4, "en", "zzq wqx qqv zxo vvq")],   # gibberish -> gated
        "d2": [(101, "en", good[0]), (3, "en", good[2]),  # 101 = dup of 1
               (102, "en", good[1])],                      # 102 = dup of 2
    }

    def write_drop(name, day):
        rows = [(i, lang, text, datetime.datetime(2024, 3, day, 12, 0))
                for i, lang, text in drops[name]]
        spark.createDataFrame(
            rows, "doc_id long, lang string, text string, "
                  "crawl_ts timestamp").coalesce(1) \
            .write.mode("overwrite").parquet(os.path.join(in_dir, name))
        _time.sleep(1.1)

    all_rows = [r for n in ("d1", "d2") for r in drops[n]]
    # train on the GOOD docs only so the gibberish doc is genuinely OOV
    # (a tiny LM trained on everything scores its own grams ~1.0)
    train = spark.createDataFrame([(i, t) for i, t in enumerate(good)],
                                  "doc_id long, text string")
    lm = train_ngram_lm(train, order=3, top_v=500)

    write_drop("d1", 1)
    write_drop("d2", 1)
    q = streaming_curate(spark, in_dir + "/*", out_dir, ckpt, lm=lm,
                         ppl_cutoff=50.0, watermark="1 hour",
                         metrics_path=metrics)
    try:
        q.processAllAvailable()
        # listener events are delivered async on the progress bus
        src_path = os.path.join(metrics, "source_counts.jsonl")
        for _ in range(50):
            if (os.path.exists(src_path)
                    and len(open(src_path).read().splitlines()) >= 2):
                break
            _time.sleep(0.2)

        batch_docs = spark.createDataFrame(
            [(r[0], r[1], r[2]) for r in all_rows],
            "doc_id long, lang string, text string")
        want = {(r.doc_id, r.lang, round(r.ppl, 6))
                for r in curate_corpus(batch_docs, lm,
                                       ppl_cutoff=50.0).collect()}
        got = {(r.doc_id, r.lang, round(r.ppl, 6))
               for r in spark.read.parquet(out_dir + "/batch_id=*")
               .collect()}
        assert got == want and len(want) == 3  # NgramLM path, same rows

        m = {r.batch_id: r for r in curation_metrics(spark, metrics)
             .collect()}
        assert sum(r.docs_in for r in m.values()) == len(all_rows)
        assert sum(r.dedup_dropped for r in m.values()) == 2  # 101, 102
        assert sum(r.gate_dropped for r in m.values()) == 1   # doc 4
        assert sum(r.docs_out for r in m.values()) == len(want)
    finally:
        q.stop()
        if getattr(q, "metricsListener", None) is not None:
            spark.streams.removeListener(q.metricsListener)


def _make_png_ex(width, height, *, color_type, bit_depth, sample_at,
                 palette=None, interlace=0):
    """Extended test-side PNG builder: palette / sub-byte depths / 16-bit
    / Adam7, filter 0 scanlines (filter reconstruction is pinned by
    test_png_real_decode). ``sample_at(x, y)`` returns the channel tuple
    (palette: the index; 16-bit: 16-bit values)."""
    import struct
    import zlib as _z

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = channels * bit_depth

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", _z.crc32(ctype + data)))

    def pass_bytes(x0, y0, dx, dy):
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            return b""
        out = bytearray()
        for py in range(ph):
            out.append(0)  # filter: None
            if bit_depth >= 8:
                for px_i in range(pw):
                    for v in sample_at(x0 + px_i * dx, y0 + py * dy)[:channels]:
                        if bit_depth == 16:
                            out += bytes([(v >> 8) & 0xFF, v & 0xFF])
                        else:
                            out.append(v & 0xFF)
            else:
                acc = nb = 0
                for px_i in range(pw):
                    v = sample_at(x0 + px_i * dx, y0 + py * dy)[0]
                    acc = (acc << bit_depth) | (v & ((1 << bit_depth) - 1))
                    nb += bit_depth
                    if nb == 8:
                        out.append(acc)
                        acc = nb = 0
                if nb:
                    out.append(acc << (8 - nb))
        return bytes(out)

    if interlace:
        raw = b"".join(pass_bytes(x0, y0, dx, dy)
                       for (x0, y0, dx, dy) in
                       ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                        (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                        (0, 1, 1, 2)))
    else:
        raw = pass_bytes(0, 0, 1, 1)
    ihdr = (struct.pack(">II", width, height)
            + bytes([bit_depth, color_type, 0, 0, interlace]))
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", b"".join(bytes(c) for c in palette))
    return out + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")


def test_png_palette_depths(spark):
    """Palette PNGs (the dominant web icon/thumbnail shape) at index
    depths 8/4/2/1, including sub-byte packing with ragged row ends."""
    from fortissimo_spark.modality import _gray_grid, decode_png
    pal = [(i * 29 % 256, i * 83 % 256, i * 131 % 256) for i in range(16)]

    def luma(i):
        c = pal[i]
        return (c[0] * 299 + c[1] * 587 + c[2] * 114) // 1000

    for depth, k in ((8, 16), (4, 16), (2, 4), (1, 2)):
        w, h = 11, 6  # 11 not divisible by pixels-per-byte
        idx = [(x * 3 + y * 7) % k for y in range(h) for x in range(w)]
        png = _make_png_ex(w, h, color_type=3, bit_depth=depth,
                           sample_at=lambda x, y: (idx[y * w + x],),
                           palette=pal[:k] if depth > 1 else pal[:2])
        want = _gray_grid(w, h, lambda x, y: luma(idx[y * w + x]))
        assert decode_png(png) == (w, h, want), depth


def test_png_gray_sub_byte_and_16bit(spark):
    """1/2/4-bit grayscale scales to 0..255; 16-bit uses the high byte."""
    from fortissimo_spark.modality import decode_png
    # 1-bit checkerboard -> exact 0/255 cells
    w = h = 8
    png = _make_png_ex(w, h, color_type=0, bit_depth=1,
                       sample_at=lambda x, y: ((x + y) & 1,))
    wdec, hdec, grid = decode_png(png)
    assert (wdec, hdec) == (8, 8) and all(c == 127 for c in grid)
    # solid 2-bit value 2 -> 2*255//3 = 170
    png = _make_png_ex(4, 4, color_type=0, bit_depth=2,
                       sample_at=lambda x, y: (2,))
    assert decode_png(png) == (4, 4, bytes([170] * 16))
    # 4-bit gradient
    png = _make_png_ex(16, 4, color_type=0, bit_depth=4,
                       sample_at=lambda x, y: (x,))
    w4, h4, g4 = decode_png(png)
    assert g4[0] < g4[1] < g4[2] < g4[3]
    # 16-bit RGB: high byte wins; low byte must not perturb
    png = _make_png_ex(6, 6, color_type=2, bit_depth=16,
                       sample_at=lambda x, y: ((0x40 << 8) | 0xFF,
                                               (0x80 << 8) | 0x01,
                                               (0xC0 << 8) | 0x77))
    want_l = (0x40 * 299 + 0x80 * 587 + 0xC0 * 114) // 1000
    assert decode_png(png) == (6, 6, bytes([want_l] * 16))
    # 16-bit gray+alpha
    png = _make_png_ex(5, 5, color_type=4, bit_depth=16,
                       sample_at=lambda x, y: ((0x90 << 8) | 3, 0xFFFF))
    assert decode_png(png) == (5, 5, bytes([0x90] * 16))


def test_png_adam7_interlaced(spark):
    """Adam7 deinterlacing reproduces the identical grid as the
    non-interlaced encoding of the same pixels — including tiny images
    where several passes are empty."""
    from fortissimo_spark.modality import decode_png

    def px(x, y):
        return ((x * 37 + y * 11) % 256, (x * 5 + y * 93) % 256,
                (x * 201 + y * 67) % 256)

    for w, h in ((13, 9), (3, 3), (1, 1), (8, 2), (2, 8)):
        plain = _make_png_ex(w, h, color_type=2, bit_depth=8, sample_at=px)
        inter = _make_png_ex(w, h, color_type=2, bit_depth=8, sample_at=px,
                             interlace=1)
        assert decode_png(inter) == decode_png(plain), (w, h)
    # interlaced palette at 4-bit: both axes of generality at once
    pal = [(i * 17 % 256,) * 3 for i in range(16)]
    idx = lambda x, y: ((x * 5 + y * 3) % 16,)  # noqa: E731
    plain = _make_png_ex(10, 7, color_type=3, bit_depth=4, sample_at=idx,
                         palette=pal)
    inter = _make_png_ex(10, 7, color_type=3, bit_depth=4, sample_at=idx,
                         palette=pal, interlace=1)
    assert decode_png(inter) == decode_png(plain)


def test_ngram_lm_generalizes_bigram_and_trigram(spark):
    """The bigram and trigram gates are orders 2 and 3 of the order-n
    chain (the same code under their historical column names), so they
    agree with it exactly; the n=5 CCNet shape scores hand-derived
    values."""
    from fortissimo_spark.lm import (
        train_bigram_lm, train_ngram_lm, train_trigram_lm, with_perplexity,
        with_perplexity_ngram, with_perplexity_trigram,
    )
    docs = load_table(spark, SF_DIR, "documents") \
        .select("doc_id", "text").limit(120)
    want2 = {r.doc_id: (r.n_bigrams, r.ppl)
             for r in with_perplexity(
                 docs, train_bigram_lm(docs, top_v=400)).collect()}
    got2 = {r.doc_id: (r.n_ngrams, r.ppl)
            for r in with_perplexity_ngram(
                docs, train_ngram_lm(docs, order=2, top_v=400)).collect()}
    assert got2 == want2
    want3 = {r.doc_id: (r.n_trigrams, r.ppl3)
             for r in with_perplexity_trigram(
                 docs, train_trigram_lm(docs, top_v=400)).collect()}
    got3 = {r.doc_id: (r.n_ngrams, r.ppl)
            for r in with_perplexity_ngram(
                docs, train_ngram_lm(docs, order=3, top_v=400)).collect()}
    assert got3 == want3

    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string")
    lm5 = train_ngram_lm(train, order=5, top_v=100)
    assert lm5.total_tokens == 10 and lm5.order == 5
    probe = spark.createDataFrame(
        [(10, "a b c d e"),   # kept 5-gram: 2/2 -> ppl 1.0
         (11, "x b c d e"),   # back off once: alpha * c4(bcde)/c3(bcd)=0.4
         (12, "a b c d"),     # < 5 tokens -> NULL
         (13, "z z z z z")],  # full chain to the OOV floor
        "doc_id long, text string")
    got = {r.doc_id: (r.n_ngrams, r.ppl)
           for r in with_perplexity_ngram(probe, lm5).collect()}
    assert got[10] == (1, 1.0)
    assert got[11] == (1, 2.5)          # 1 / 0.4
    assert got[12] == (0, None)
    # OOV floor: alpha^4 * 1/N = 0.4^4/10 -> ppl = 10/0.4^4 = 390.625
    assert got[13] == (1, 390.625)


def test_mp4_header_sniffing(spark):
    """ISO-BMFF (mp4) metadata from a hand-built moov: mvhd
    timescale/duration -> duration_ms, first nonzero tkhd 16.16 dims;
    version-1 (64-bit) boxes too; avif brands stay sniff_avif's."""
    from fortissimo_spark.modality import sniff_media, sniff_mp4

    def box(btype, payload):
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    mvhd = box(b"mvhd", bytes([0, 0, 0, 0]) + b"\x00" * 8
               + (600).to_bytes(4, "big")        # timescale
               + (3000).to_bytes(4, "big"))      # duration -> 5000 ms
    tkhd_audio = box(b"tkhd", bytes([0, 0, 0, 0]) + b"\x00" * 72
                     + b"\x00" * 8)              # zero dims: skipped
    tkhd_video = box(b"tkhd", bytes([0, 0, 0, 0]) + b"\x00" * 72
                     + (640 << 16).to_bytes(4, "big")
                     + (360 << 16).to_bytes(4, "big"))
    moov = box(b"moov", mvhd + box(b"trak", tkhd_audio)
               + box(b"trak", tkhd_video))
    mp4 = box(b"ftyp", b"isom\x00\x00\x00\x01isom") + moov \
        + box(b"mdat", b"\x00" * 32)
    assert sniff_mp4(mp4) == (640, 360, 5000)
    s = sniff_media(mp4)
    assert (s["format"], s["width"], s["height"], s["duration_ms"]) == \
        ("mp4", 640, 360, 5000)

    # version-1 mvhd: 64-bit times
    mvhd1 = box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 16
                + (1000).to_bytes(4, "big")
                + (2500).to_bytes(8, "big"))
    mp4v1 = box(b"ftyp", b"mp42\x00\x00\x00\x00") \
        + box(b"moov", mvhd1 + box(b"trak", tkhd_video))
    assert sniff_mp4(mp4v1) == (640, 360, 2500)

    # ftyp without a readable moov refuses instead of guessing
    import pytest as _pt
    with _pt.raises(ValueError):
        sniff_mp4(box(b"ftyp", b"isom") + box(b"free", b"\x00" * 8))
    # avif brand is not an mp4 for this sniffer
    assert sniff_mp4(box(b"ftyp", b"avif" + b"\x00" * 8)) is None


def test_gpt2_pretokenize_property(spark):
    """Property fuzz (hypothesis): for ANY text, the pre-tokenizer
    round-trips exactly (concatenation identity), yields no empty
    tokens, and token boundaries are stable under re-tokenization of
    the concatenation (idempotence)."""
    from hypothesis import given, settings, strategies as st

    from fortissimo_spark.bpe import gpt2_pretokenize

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=60))
    def check(text):
        toks = gpt2_pretokenize(text)
        assert "".join(toks) == text
        assert all(toks)
        assert gpt2_pretokenize("".join(toks)) == toks

    check()


def test_media_metadata_operator(spark):
    """media_metadata: one header-only census row per payload across
    every sniffable family, NULL-format rows for unrecognized/corrupt
    payloads (observable, never dropped, never a task failure)."""
    import struct
    import zlib as _z

    from fortissimo_spark.modality import MEDIA_SCHEMA, media_metadata
    from tests.test_gif import PAL8, build_gif, lcg_indices
    png_ihdr = struct.pack(">II", 31, 17) + bytes([8, 2, 0, 0, 0])
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + png_ihdr + struct.pack(">I", _z.crc32(b"IHDR" + png_ihdr)))
    jpeg = (b"\xff\xd8\xff\xe0\x00\x10JFIF" + b"\x00" * 10
            + b"\xff\xc0\x00\x11\x08" + (77).to_bytes(2, "big")
            + (55).to_bytes(2, "big") + b"\x03" + b"\x00" * 10)
    bmp = (b"BM" + b"\x00" * 16 + (40).to_bytes(4, "little", signed=True)
           + (30).to_bytes(4, "little", signed=True))
    ppm = b"P6\n23 9\n255\n" + b"\x00" * 10
    wav = (b"RIFF" + (100).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (32000).to_bytes(4, "little")
           + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
           + b"data" + (16000).to_bytes(4, "little"))
    gif = build_gif(12, 7, PAL8, lcg_indices(12 * 7, 8))
    rows = [
        (1, "image", bytearray(png), "image/png", None, None, None),
        (2, "image", bytearray(jpeg), "image/jpeg", None, None, None),
        (3, "image", bytearray(bmp), "image/bmp", None, None, None),
        (4, "image", bytearray(ppm), "image/x-ppm", None, None, None),
        (5, "audio", bytearray(wav), "audio/wav", None, None, None),
        (6, "image", bytearray(gif), "image/gif", None, None, None),
        (7, "other", bytearray(b"not a media file"), "text/plain",
         None, None, None),
        (8, "other", None, None, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: (r.format, r.width, r.height, r.sample_rate,
                        r.n_channels, r.duration_ms)
           for r in media_metadata(media).collect()}
    assert got[1] == ("png", 31, 17, None, None, None)
    assert got[2] == ("jpeg", 55, 77, None, None, None)  # SOF: height first
    assert got[3] == ("bmp", 40, 30, None, None, None)
    assert got[4] == ("ppm", 23, 9, None, None, None)
    # 16000 data bytes / 4-byte blocks = 4000 frames @ 8 kHz -> 500 ms
    assert got[5] == ("wav", None, None, 8000, 2, 500)
    assert got[6] == ("gif", 12, 7, None, None, None)
    assert got[7] == (None, None, None, None, None, None)
    assert got[8] == (None, None, None, None, None, None)
    assert len(got) == 8


def test_curate_corpus_with_ngram_gate(spark):
    """curate_corpus accepts the order-n LM: the 5-gram gate drops the
    gibberish/short docs a fluent doc survives, and the bigram path is
    unchanged."""
    from fortissimo_spark.lm import train_ngram_lm
    from fortissimo_spark.pipeline import curate_corpus
    fluent = "the stream flows through the filter stack every day now"
    docs = spark.createDataFrame(
        [(1, "en", fluent), (2, "en", fluent),         # dup: min-id wins
         (3, "en", "zxq wvv qqp zzk oiw mmx rrv ppq zzl oiu"),
         (4, "en", "one")],
        "doc_id long, lang string, text string")
    lm5 = train_ngram_lm(docs.filter(F.col("doc_id") == 1),
                         order=5, top_v=200)
    kept = {r.doc_id: r.ppl
            for r in curate_corpus(docs, lm5, ppl_cutoff=10.0).collect()}
    assert set(kept) == {1}  # dup loser, gibberish, and stub all gone
    assert kept[1] == 1.0    # trained on itself: every 5-gram kept


def test_mp3_xing_vbr_duration(spark):
    """A Xing/Info header in the first frame overrides the CBR estimate:
    duration = frame count x samples-per-frame / rate (the accurate
    header-only figure for VBR files)."""
    from fortissimo_spark.modality import sniff_mp3
    # MPEG1 Layer III header: 128 kbps idx=9, 44100 Hz idx=0, stereo
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    # stereo MPEG1: 32-byte side info, then Xing with the FRAMES flag
    xing = (b"\x00" * 32 + b"Xing" + (1).to_bytes(4, "big")
            + (1000).to_bytes(4, "big"))  # 1000 frames
    mp3 = hdr + xing + b"\x00" * 4000
    rate, nch, kbps, dur = sniff_mp3(mp3)
    assert (rate, nch, kbps) == (44100, 2, 128)
    assert dur == 1000 * 1152 * 1000 // 44100  # 26122 ms, not CBR ~250
    # no Xing -> CBR estimate still works
    plain = hdr + b"\x00" * 4000
    assert sniff_mp3(plain)[3] == int(len(plain) * 8 * 1000 / 128000)

    # no Xing but WALKABLE frames: VBR duration comes out EXACT via the
    # frame-by-frame walk (the CBR estimate would be wrong), with an
    # ID3v1 'TAG' tail tolerated
    def frame(kbps_idx):
        h = bytes([0xFF, 0xFB, (kbps_idx << 4) | 0x00, 0x00])
        flen = 144000 * {9: 128, 12: 224, 5: 64}[kbps_idx] // 44100
        return h + b"\x00" * (flen - 4)

    vbr = (frame(9) * 10 + frame(12) * 10 + frame(5) * 10
           + b"TAG" + b"\x00" * 125)
    rate, nch, kbps, dur = sniff_mp3(vbr)
    assert (rate, kbps) == (44100, 128)  # first-frame bitrate reported
    assert dur == 30 * 1152 * 1000 // 44100  # exact: 783 ms
    assert dur != int(len(vbr) * 8 * 1000 / 128000)  # CBR estimate wrong


def test_warc_range_reader_cut_points_with_corrupt_record():
    """Exact split ownership SURVIVES a corrupt record (non-numeric
    Content-Length) anywhere relative to the cut: for every byte cut
    point, the two ranges together yield exactly the archive's good
    records — the left split's resync never steals a record the right
    split will claim, and never drops one it owns."""
    import io

    from fortissimo_spark.warc import (
        build_warc, iter_warc_records, iter_warc_records_range,
    )
    good_a = build_warc(
        [{"url": f"http://c.example/a{i}", "date": "2024-01-01T00:00:00Z",
          "body": f"<p>a{i}</p>".encode()} for i in range(2)],
        warcinfo=False)
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"Content-Length: NaN\r\n\r\njunk body bytes\r\n\r\n")
    good_b = build_warc(
        [{"url": f"http://c.example/b{i}", "date": "2024-01-01T00:00:00Z",
          "body": f"<p>b{i}</p>".encode()} for i in range(2)],
        warcinfo=False)
    payload = good_a + bad + good_b
    want = [h.get("warc-target-uri") for h, _ in iter_warc_records(payload)]
    # full-archive parse already resyncs past the bad record
    assert want == [f"http://c.example/{x}" for x in
                    ("a0", "a1", "b0", "b1")]
    for cut in range(len(payload) + 1):
        got = []
        for s, e in ((0, cut), (cut, len(payload))):
            got += [h.get("warc-target-uri")
                    for h, _ in iter_warc_records_range(
                        io.BytesIO(payload), s, e, compressed=False)]
        assert got == want, cut


def test_flac_and_ogg_sniffing(spark):
    """FLAC STREAMINFO and Ogg Vorbis/Opus id headers on hand-built
    spec fixtures: exact rates/channels/durations, corrupt refusal."""
    from fortissimo_spark.modality import sniff_flac, sniff_media, sniff_ogg
    # FLAC: 44100 Hz, 2ch, 441000 samples -> 10 s
    packed = (44100 << 44) | (1 << 41) | 441000
    streaminfo = (b"\x80" + (34).to_bytes(3, "big") + b"\x00" * 10
                  + packed.to_bytes(8, "big") + b"\x00" * 16)
    flac = b"fLaC" + streaminfo
    assert sniff_flac(flac) == (44100, 2, 10000)
    s = sniff_media(flac)
    assert (s["format"], s["sample_rate"], s["n_channels"],
            s["duration_ms"]) == ("flac", 44100, 2, 10000)
    import pytest as _pt
    with _pt.raises(ValueError):
        sniff_flac(b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + b"\x00")

    def ogg_page(body, granule=0, seq=0):
        # spec layout: OggS ver type granule(8) serial(4) seq(4) crc(4)
        # nseg(1) segtable body
        return (b"OggS\x00\x02" + granule.to_bytes(8, "little")
                + b"\x00" * 4 + seq.to_bytes(4, "little")
                + b"\x00" * 4 + bytes([1, len(body)]) + body)

    vorbis_id = (b"\x01vorbis" + b"\x00" * 4 + bytes([2])
                 + (48000).to_bytes(4, "little") + b"\x00" * 16)
    ogg = ogg_page(vorbis_id) + ogg_page(b"\x00" * 10,
                                         granule=96000, seq=1)
    assert sniff_ogg(ogg) == ("vorbis", 48000, 2, 2000)
    opus_id = (b"OpusHead\x01" + bytes([1])
               + (312).to_bytes(2, "little")
               + (16000).to_bytes(4, "little") + b"\x00" * 3)
    ogg2 = ogg_page(opus_id) + ogg_page(b"\x00" * 10,
                                        granule=48000 + 312, seq=1)
    assert sniff_ogg(ogg2) == ("opus", 48000, 1, 1000)
    assert sniff_media(ogg2)["format"] == "ogg-opus"
    with _pt.raises(ValueError):
        sniff_ogg(ogg_page(b"\x7fFLAC..."))  # unknown codec id

    # adversarial payload: an "OggS" + huge fake granule INSIDE the last
    # page's body must not be mistaken for a page header (an rfind-based
    # last-page scan is fooled; the forward page walk is not)
    poison = b"OggS\x00\x04" + (10 ** 15).to_bytes(8, "little") + b"\x00" * 12
    ogg3 = ogg_page(vorbis_id) + ogg_page(poison, granule=96000, seq=1)
    assert sniff_ogg(ogg3) == ("vorbis", 48000, 2, 2000)


def test_decode_audio_flac_ogg_metadata(spark):
    """decode_audio surfaces REAL rate/channels/duration for FLAC and
    Ogg payloads (digest loudness stand-in) instead of raising."""
    from fortissimo_spark.modality import decode_audio
    packed = (22050 << 44) | (0 << 41) | 44100
    flac = (b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + b"\x00" * 10
            + packed.to_bytes(8, "big") + b"\x00" * 16)
    rate, nch, dur, rms = decode_audio(flac)
    assert (rate, nch, dur) == (22050, 1, 2000) and len(rms) == 16


def test_cdxj_index_reader(spark, tmp_path_factory):
    """read_cdxj parses Common-Crawl-style CDXJ index lines (urlkey +
    14-digit timestamp + json with STRING-typed numerics) entirely
    JVM-side; malformed lines yield NULL parsed columns, not drops."""
    from fortissimo_spark.warc import cdxj_line, read_cdxj
    base = tmp_path_factory.mktemp("cdxj")
    lines = [
        cdxj_line("com,example)/a", "20240301120000",
                  {"url": "https://example.com/a", "mime": "text/html",
                   "status": "200", "digest": "SHAAAA", "length": "5120",
                   "offset": "1024", "filename": "crawl-00.warc.gz"}),
        cdxj_line("com,example)/b", "20240301120133",
                  {"url": "https://example.com/b", "mime": "text/html",
                   "status": "404", "digest": "SHBBBB", "length": "900",
                   "offset": "7000", "filename": "crawl-00.warc.gz",
                   "languages": "eng"}),
        "com,example)/broken 20240301120200 {not json",
    ]
    (base / "idx.cdxj").write_text("\n".join(lines) + "\n")
    rows = {r.urlkey: r for r in read_cdxj(spark, str(base)).collect()}
    assert len(rows) == 3
    a = rows["com,example)/a"]
    assert (a.url, a.status, a.length, a.offset, a.filename) == \
        ("https://example.com/a", 200, 5120, 1024, "crawl-00.warc.gz")
    assert a.capture_ts.strftime("%Y%m%d%H%M%S") == "20240301120000"
    assert rows["com,example)/b"].languages == "eng"
    broken = rows["com,example)/broken"]
    assert broken.url is None and broken.capture_ts is not None
    # census-typical selection stays JVM-only (no Python in the plan)
    sel = read_cdxj(spark, str(base)).filter(
        (F.col("status") == 200) & (F.col("mime") == "text/html"))
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan
    assert sel.count() == 1


def test_warc_fetch_by_index(spark, tmp_path_factory):
    """Planned fetch: per-record gzip members with TRACKED offsets across
    two archives; an index selection must fetch exactly those records,
    byte-identical html, and skip a bad range without losing its task."""
    import gzip as _gz

    from fortissimo_spark.warc import build_warc, read_warc_records_by_index
    base = tmp_path_factory.mktemp("warc_idx")
    index_rows = []
    for fno in range(2):
        members = []
        offset = 0
        for i in range(12):
            one = build_warc(
                [{"url": f"http://idx.example/f{fno}/r{i}",
                  "date": "2024-01-01T00:00:00Z",
                  "body": f"<p>doc {fno}/{i} body</p>".encode()}],
                warcinfo=False)
            gz = _gz.compress(one, mtime=0)
            members.append(gz)
            index_rows.append((f"c{fno}.warc.gz", offset, len(gz), fno, i))
            offset += len(gz)
        (base / f"c{fno}.warc.gz").write_bytes(b"".join(members))

    # select every 3rd record of each file + one bogus range
    sel = [(f, o, ln) for (f, o, ln, fno, i) in index_rows if i % 3 == 0]
    sel.append(("c0.warc.gz", 10 ** 9, 100))       # out-of-range: skipped
    sel.append(("missing.warc.gz", 0, 100))        # absent file: skipped
    idx = spark.createDataFrame(sel, "filename string, offset long, "
                                     "length long")
    got = {r.url: bytes(r.html)
           for r in read_warc_records_by_index(spark, idx,
                                               str(base)).collect()}
    want = {f"http://idx.example/f{fno}/r{i}"
            for (f, o, ln, fno, i) in index_rows if i % 3 == 0}
    assert set(got) == want and len(got) == 8
    assert got["http://idx.example/f1/r3"].endswith(b"doc 1/3 body</p>")


def test_warc_fetch_kernel_chunked_yields(spark, tmp_path_factory):
    """The fetch kernel's output memory is bounded: ONE input batch of
    many index rows yields MULTIPLE frames (flush caps), and the union of
    chunked frames equals the unchunked output row-for-row."""
    import gzip as _gz

    import pandas as pd

    from fortissimo_spark.warc import _make_index_fetch_kernel, build_warc
    base = tmp_path_factory.mktemp("warc_chunk")
    members, offs = [], []
    offset = 0
    for i in range(30):
        one = build_warc([{"url": f"http://c.example/r{i}",
                           "date": "2024-01-01T00:00:00Z",
                           "body": f"<p>chunk {i}</p>".encode()}],
                         warcinfo=False)
        gz = _gz.compress(one, mtime=0)
        members.append(gz)
        offs.append((offset, len(gz)))
        offset += len(gz)
    (base / "c.warc.gz").write_bytes(b"".join(members))
    batch = pd.DataFrame({"filename": ["c.warc.gz"] * 30,
                          "offset": [o for o, _ in offs],
                          "length": [ln for _, ln in offs]})

    chunked = list(_make_index_fetch_kernel(str(base),
                                            flush_rows=7)([batch]))
    assert len(chunked) == 5 and all(len(f) <= 7 for f in chunked)
    whole = list(_make_index_fetch_kernel(str(base))([batch]))
    assert len(whole) == 1
    a = pd.concat(chunked).reset_index(drop=True)
    assert a.equals(whole[0].reset_index(drop=True))


def test_warc_split_kernel_chunked_yields(spark, tmp_path_factory):
    """Same memory bound for the byte-range SPLIT kernel: one split
    covering many records yields multiple capped frames, identical
    row-for-row to the unchunked output."""
    import gzip as _gz

    import pandas as pd

    from fortissimo_spark.warc import _make_split_kernel, build_warc
    base = tmp_path_factory.mktemp("warc_split_chunk")
    members = b"".join(
        _gz.compress(build_warc(
            [{"url": f"http://s.example/r{i}",
              "date": "2024-01-01T00:00:00Z",
              "body": f"<p>split {i}</p>".encode()}], warcinfo=False),
            mtime=0)
        for i in range(25))
    path = str(base / "s.warc.gz")
    open(path, "wb").write(members)
    batch = pd.DataFrame({"path": [path], "start": [0],
                          "end": [len(members)], "gz": [True]})
    chunked = list(_make_split_kernel(flush_rows=6)([batch]))
    assert len(chunked) == 5 and all(len(f) <= 6 for f in chunked)
    whole = list(_make_split_kernel()([batch]))
    assert len(whole) == 1 and len(whole[0]) == 25
    assert pd.concat(chunked).reset_index(drop=True).equals(
        whole[0].reset_index(drop=True))


def test_warc_fetch_hot_archive_fans_out(spark, tmp_path_factory):
    """A selection concentrated in ONE archive must not collapse to one
    task: the (filename, byte-budget bucket) planning spreads it across
    partitions, buckets are offset-ordered prefix ranges (monotone seeks
    per task), and the fetched rows are identical to the one-task plan."""
    import gzip as _gz

    from fortissimo_spark.warc import (
        _plan_index_selection, build_warc, read_warc_records_by_index,
    )
    base = tmp_path_factory.mktemp("warc_hot")
    members, rows = [], []
    offset = 0
    for i in range(40):
        one = build_warc([{"url": f"http://hot.example/r{i}",
                           "date": "2024-01-01T00:00:00Z",
                           "body": (f"<p>hot {i} " + "x" * 200
                                    + "</p>").encode()}],
                         warcinfo=False)
        gz = _gz.compress(one, mtime=0)
        members.append(gz)
        rows.append(("hot.warc.gz", offset, len(gz)))
        offset += len(gz)
    (base / "hot.warc.gz").write_bytes(b"".join(members))
    idx = spark.createDataFrame(rows, "filename string, offset long, "
                                      "length long")

    budget = offset // 6  # ~6 buckets over one archive
    planned = _plan_index_selection(idx, task_fetch_bytes=budget)
    by_part = (planned
               .withColumn("_pid", F.spark_partition_id())
               .select("_pid", "_bucket", "offset").collect())
    assert len({r._pid for r in by_part}) > 1       # fans out, not 1 task
    # prefix-range property: every offset in bucket b < every offset in b+1
    from collections import defaultdict
    buckets = defaultdict(list)
    for r in by_part:
        buckets[r._bucket].append(r.offset)
    keys = sorted(buckets)
    assert len(keys) >= 4
    for a_, b_ in zip(keys, keys[1:]):
        assert max(buckets[a_]) < min(buckets[b_])

    got = {r.url for r in read_warc_records_by_index(
        spark, idx, str(base), task_fetch_bytes=budget).collect()}
    assert got == {f"http://hot.example/r{i}" for i in range(40)}


def test_normalize_text_nfc_and_controls(spark):
    from fortissimo_spark.textstats import normalize_text
    docs = spark.createDataFrame(
        [(1, "café garçon"),     # NFD -> café garçon
         (2, "a\x07b\tkeep\nlines\x0b\x7f\x9fz"),  # strip C0/C1/DEL, keep \t\n
         (3, "plain ascii"),
         (4, None)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in normalize_text(docs).collect()}
    assert rows[1].text_norm == "café garçon"
    assert rows[2].text_norm == "ab\tkeep\nlinesz"
    assert rows[3].text_norm == "plain ascii"
    assert rows[4].text_norm is None
    # NFKC folds compatibility forms (ligature fi, fullwidth A)
    nk = {r.doc_id: r for r in normalize_text(
        spark.createDataFrame([(1, "ﬁle Ａ")],
                              "doc_id long, text string"),
        form="NFKC").collect()}
    assert nk[1].text_norm == "file A"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        normalize_text(docs, form="NFX")


def test_robots_flags_forgiving_parse(spark):
    """Directives must survive the forgiving parse: case-insensitive
    names, padded token lists, the `none` shorthand, duplicated metas,
    and broken markup around the head."""
    from fortissimo_spark.kernel import robots_flags
    pages = spark.createDataFrame(
        [("u1", "<html><head><meta name=ROBOTS content=' NOINDEX , foo'>"
                "<title>t</head><body>x".encode()),
         ("u2", "<head><META NAME='googlebot' CONTENT='nofollow'>"
                "<meta name=robots content=none>".encode()),
         ("u3", "<p>no head at all".encode()),
         ("u4", "<meta name=robots content='index, follow'>"
                "<meta name=description content='noindex'>".encode())],
        "url string, html binary")
    got = {r.url: r for r in robots_flags(pages).collect()}
    assert (got["u1"].noindex, got["u1"].nofollow,
            got["u1"].n_robots_meta) == (True, False, 1)
    assert (got["u2"].noindex, got["u2"].nofollow,
            got["u2"].n_robots_meta) == (True, True, 2)
    assert (got["u3"].noindex, got["u3"].nofollow,
            got["u3"].n_robots_meta) == (False, False, 0)
    # description meta carrying the word is NOT a directive
    assert (got["u4"].noindex, got["u4"].n_robots_meta) == (False, 1)


def test_ppl_buckets_tertiles_and_null(spark):
    """Hand-checkable tertiles: 6 docs per lang with distinct ppls split
    2/2/2; un-scoreable docs keep a NULL bucket; cuts interpolate at
    (n-1)*p like CCNet's percentile thresholds."""
    from pyspark.sql import functions as F
    from fortissimo_spark.lm import with_ppl_buckets
    rows = [(i, "en", float(10 + i)) for i in range(6)]          # 10..15
    rows += [(10 + i, "de", float(100 + 10 * i)) for i in range(6)]
    rows += [(99, "en", None), (98, "xx", None)]
    scored = spark.createDataFrame(rows, "doc_id long, lang string, ppl double")
    out = {r.doc_id: r.ppl_bucket
           for r in with_ppl_buckets(scored).collect()}
    # en cuts: quantile([10..15], 1/3)=11.666667, 2/3=13.333333
    assert [out[i] for i in range(6)] == [
        "head", "head", "middle", "middle", "tail", "tail"]
    assert [out[10 + i] for i in range(6)] == [
        "head", "head", "middle", "middle", "tail", "tail"]
    assert out[99] is None and out[98] is None
    # sampled-cutoff path: deterministic sample still yields labels for ALL
    full = with_ppl_buckets(scored, cut_sample_frac=0.9)
    assert full.filter(F.col("ppl").isNotNull()
                       & F.col("ppl_bucket").isNull()).count() == 0
    assert full.count() == len(rows)


def test_page_metadata_forgiving(spark):
    from fortissimo_spark.kernel import page_metadata
    pages = spark.createDataFrame(
        [("u1", "<head><LINK REL='alternate canonical' HREF='/c'>"
                "<meta property='OG:TITLE' content='Og T'>"
                "<meta name=description content='D1'>"
                "<meta name=description content='D2'>"
                "<title>T</title><h1>H".encode()),
         ("u2", "<p>bare".encode())],
        "url string, html binary")
    got = {r.url: r for r in page_metadata(pages).collect()}
    r1 = got["u1"]
    # rel is a token list, case-insensitive; first description wins
    assert (r1.canonical, r1.og_title, r1.description) == ("/c", "Og T", "D1")
    assert (r1.title_text, r1.first_h1) == ("T", "H")
    r2 = got["u2"]
    assert (r2.title_text, r2.first_h1, r2.canonical, r2.description,
            r2.og_title) == (None, None, None, None, None)


def test_robots_engine_rfc9309(spark):
    """parse_robots_txt + robots_rules_for_agent must reproduce the
    hand-derived rule set the oracle embeds (group selection, case
    folding, empty-Disallow drop), and the JVM pattern->regex translation
    must equal the pure-Python mirror used to generate those literals."""
    from pyspark.sql import functions as F
    from fortissimo_spark.pages import HOSTS
    from fortissimo_spark.robots import (apply_robots, parse_robots_txt,
                                         robots_crawl_delays,
                                         robots_pattern_regex,
                                         robots_rules_for_agent,
                                         robots_sitemaps)
    import __spark_entry__ as entrymod
    robots = spark.createDataFrame(
        list(entrymod._ROBOTS_BODIES.items()), "host string, body string")
    rules = parse_robots_txt(robots)
    binding = robots_rules_for_agent(rules, entrymod._ROBOTS_AGENT)
    got = {(HOSTS.index(r.host), r.rule, r.pattern, r.regex, r.specificity)
           for r in binding.collect()}
    assert got == set(entrymod._robots_cc_rules())
    # JVM regex translation == python mirror on tricky patterns
    pats = ["/a/*.pdf$", "/x(y)+?[z]|w\\v$", "/plain", "/*mid$dollar",
            "*lead", "/end$"]
    df = spark.createDataFrame([(p,) for p in pats], "pattern string")
    jvm = {r.pattern: r.rx for r in df.select(
        "pattern", robots_pattern_regex(F.col("pattern")).alias("rx")).collect()}
    for p in pats:
        assert jvm[p] == entrymod._robots_regex_py(p), p
    # group-scoped crawl-delay: ccbot group on news has no delay; the
    # generic groups carry 5 (megaportal) and 1.5 (wiki)
    delays = {r.host: r.crawl_delay_s
              for r in robots_crawl_delays(robots, "ccbot").collect()}
    assert delays == {"megaportal.example.com": 5.0,
                      "wiki.example.edu": 1.5}
    assert robots_sitemaps(robots).count() == 0
    # longest-match + allow-tie on a hand page set
    pages = spark.createDataFrame(
        [("https://docs.example.dev/article/0000000012",),   # tie -> allow
         ("https://docs.example.dev/article/0000000013",),   # disallow
         ("https://docs.example.dev/other",),                # no rule
         ("https://forum.example.co/article/0000000001",),   # deny-all
         # path-AND-query matching: the query rule (spec 13) beats the
         # allow '*0$' (spec 12) that would otherwise pass this url
         ("https://megaportal.example.com/article/0000000080?sessionid=80",),
         ("https://megaportal.example.com/article/0000000080",),
         ("not a url",)],                                    # NULL host
        "url string")
    got2 = {r.url: (r.allowed, r.matched_rule)
            for r in apply_robots(pages, rules, "ccbot").collect()}
    assert got2["https://docs.example.dev/article/0000000012"] == (True, "allow")
    assert got2["https://docs.example.dev/article/0000000013"] == (False, "disallow")
    assert got2["https://docs.example.dev/other"] == (True, None)
    assert got2["https://forum.example.co/article/0000000001"] == (False, "disallow")
    assert got2[
        "https://megaportal.example.com/article/0000000080?sessionid=80"] \
        == (False, "disallow")
    assert got2["https://megaportal.example.com/article/0000000080"] \
        == (True, "allow")
    assert got2["not a url"] == (True, None)


def test_outlinks_and_resolve_href(spark):
    from pyspark.sql import functions as F
    from fortissimo_spark.graph import extract_outlinks, resolve_href
    pages = spark.createDataFrame(
        [("https://h.example/a/b/page.html",
          "<body><a HREF='/root.html' REL='me NOFOLLOW'>R</a>"
          "<a href=rel.html>rel</a>"
          "<a href='//cdn.example/x'>p</a>"
          "<a href='http://abs.example/y#frag'>abs</a>"
          "<a href='mailto:x@example.com'>m</a>"
          "<a href='#top'>top</a>"
          "<a name=anchor-no-href>skip</a>".encode())],
        "url string, html binary")
    links = extract_outlinks(pages)
    got = {r.href: r for r in links.collect()}
    assert set(got) == {"/root.html", "rel.html", "//cdn.example/x",
                        "http://abs.example/y#frag", "mailto:x@example.com",
                        "#top"}
    assert got["/root.html"].nofollow is True
    assert got["rel.html"].nofollow is False
    assert got["rel.html"].anchor == "rel"
    res = {r.href: r.resolved for r in links.select(
        "href", resolve_href(F.col("url"), F.col("href")).alias("resolved"))
        .collect()}
    assert res["/root.html"] == "https://h.example/root.html"
    assert res["rel.html"] == "https://h.example/a/b/rel.html"
    assert res["//cdn.example/x"] == "https://cdn.example/x"
    assert res["http://abs.example/y#frag"] == "http://abs.example/y"
    assert res["mailto:x@example.com"] is None
    assert res["#top"] is None  # fragment-only -> empty -> NULL


def test_pagerank_hand_graph(spark):
    """3-node cycle + sink: closed-form check. Cycle a->b->c->a keeps
    the uniform distribution exactly; adding sink d reached from a
    splits a's mass. Verified against a hand power iteration."""
    from fortissimo_spark.graph import link_degrees, pagerank
    nodes = spark.createDataFrame([(i,) for i in "abcd"], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "d"), ("b", "c"), ("c", "a"), ("a", "b")],
        "src string, dst string")  # duplicate a->b must collapse
    deg = {r.id: (r.out_deg, r.in_deg)
           for r in link_degrees(edges, nodes).collect()}
    assert deg == {"a": (2, 1), "b": (1, 1), "c": (1, 1), "d": (0, 1)}
    pr = {r.id: r.pr for r in
          pagerank(edges, nodes, num_iters=2, damping=0.85).collect()}
    # hand iteration, n=4, base=0.0375, r0=0.25 each:
    # r1: a=.25, b=.1437, c=.25, d=.1437  (d dangling: mass lost)
    # r2: a=base+.85*.25=.25, b=base+.85*.125=.14375,
    #     c=base+.85*.143750=.1596875, d=.14375
    import math
    exp = {"a": 0.25, "b": 0.14375, "c": 0.1596875, "d": 0.14375}
    for k, v in exp.items():
        assert math.isclose(pr[k], v, abs_tol=1e-9), (k, pr[k], v)


def test_inverted_index_hand_corpus(spark):
    """Posting lists, df/cf, first positions, the stop-term cap, and
    min_df — all pinned on a 3-doc hand corpus."""
    from fortissimo_spark.textstats import inverted_index
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b d"), (3, "a")],
        "doc_id long, text string")
    full = {r.term: (r.df, r.cf, r.truncated, r.postings)
            for r in inverted_index(docs, max_postings=2).collect()}
    assert full == {
        "a": (2, 3, False, "1:2:0,3:1:0"),
        "b": (2, 3, False, "1:1:1,2:2:0"),
        "c": (1, 1, False, "1:1:3"),
        "d": (1, 1, False, "2:1:2")}
    # cap keeps the SMALLEST doc_ids, truncated flags it, full df/cf
    # survive; min_df drops the singleton terms
    capped = {r.term: (r.df, r.cf, r.truncated, r.postings)
              for r in inverted_index(docs, max_postings=1,
                                      min_df=2).collect()}
    assert capped == {"a": (2, 3, True, "1:2:0"),
                      "b": (2, 3, True, "1:1:1")}
    # phrase indexing: bigram terms, pos = starting token offset; the
    # 1-token doc contributes no grams
    bi = {r.term: r.postings
          for r in inverted_index(docs, ngram=2).collect()}
    assert bi == {"a b": "1:1:0", "b a": "1:1:1", "a c": "1:1:2",
                  "b b": "2:1:0", "b d": "2:1:1"}


def test_importance_resample(spark):
    """Weighted resample-with-repetition: integer weights yield exactly
    w copies (coin-independent), zero/NULL drop, fractional weights
    realize ~frac extra copies under the deterministic coin, the cap
    binds, and the same salt reproduces the draw exactly."""
    from fortissimo_spark.corpus import importance_resample
    docs = spark.createDataFrame(
        [(i, 2.0) for i in range(10)]
        + [(100 + i, 0.5) for i in range(400)]
        + [(600, 0.0), (601, None), (602, 99.0)],
        "doc_id long, weight double")
    out = importance_resample(docs, "weight", salt="s1", max_copies=4)
    rows = [(r.doc_id, r.copy_idx) for r in out.collect()]
    per_doc = {}
    for d, c in rows:
        per_doc.setdefault(d, []).append(c)
    for i in range(10):
        assert sorted(per_doc[i]) == [0, 1]
    assert 600 not in per_doc and 601 not in per_doc
    assert sorted(per_doc[602]) == [0, 1, 2, 3]      # capped at 4
    frac_kept = sum(1 for d in per_doc if 100 <= d < 500)
    assert 150 <= frac_kept <= 250                   # ~0.5 of 400
    again = sorted((r.doc_id, r.copy_idx) for r in
                   importance_resample(docs, "weight", salt="s1",
                                       max_copies=4).collect())
    assert again == sorted(rows)
    other = {r.doc_id for r in
             importance_resample(docs, "weight", salt="s2",
                                 max_copies=4).collect()
             if 100 <= r.doc_id < 500}
    assert other != {d for d in per_doc if 100 <= d < 500}


def test_dust_mine_and_apply(spark):
    """DUST param mining on a hand crawl: a session param whose
    stripped twin exists with identical content is mined (support =
    #alias pairs); a single-occurrence alias stays under min_support;
    a param with no crawled stripped twin is never a rule. Applying
    rewrites only ruled hosts/params and leaves everything else —
    including other params on the ruled host — byte-identical."""
    from fortissimo_spark.urls import apply_dust_rules, mine_dust_rules
    rows = []
    for i in range(3):
        base = f"https://a.example/art/{i}?id={i}"
        rows.append((base, f"h{i}"))
        rows.append((base + f"&sessionid=s{i}", f"h{i}"))
    rows += [("https://b.example/p?id=1&ref=x", "hb"),   # support 1
             ("https://b.example/p?id=1", "hb"),
             ("https://a.example/solo?id=9&tok=z", "hz")]  # no twin
    crawl = spark.createDataFrame(rows, "url string, content_hash string")
    rules = [(r.host, r.param, r.support)
             for r in mine_dust_rules(crawl, min_support=2).collect()]
    assert rules == [("a.example", "sessionid", 3)]
    out = {r.url: r.url_canonical
           for r in apply_dust_rules(
               crawl, mine_dust_rules(crawl, min_support=2)).collect()}
    for i in range(3):
        assert out[f"https://a.example/art/{i}?id={i}&sessionid=s{i}"] \
            == f"https://a.example/art/{i}?id={i}"
    assert out["https://a.example/solo?id=9&tok=z"] \
        == "https://a.example/solo?id=9&tok=z"
    assert out["https://b.example/p?id=1&ref=x"] \
        == "https://b.example/p?id=1&ref=x"


def test_extract_tables_hand_pages(spark):
    """Table cells as relational records: caption pickup, th/td flags,
    row/colspan parsing, the synthetic-tr repair row for a stray th,
    nested-table separation (inner cells don't double-count in the
    outer table), and textContent bleed-through on the outer cell."""
    from fortissimo_spark.kernel import extract_tables
    html = ("<html><body>"
            "<table><caption>Stats</caption>"
            "<tr><th>name<th colspan=2>vals"
            "<tr><td>a<td>1<td rowspan=\"2\">2"
            "</table>"
            "<table><th>x<tbody><tr><td>1<td>2</table>"
            "<table><tr><td>outer <table><tr><td>inner</table> tail"
            "</table>"
            "</body></html>").encode()
    pages = spark.createDataFrame([("u1", bytearray(html)),
                                   ("u2", bytearray(b"<p>no tables</p>"))],
                                  "url string, html binary")
    got = sorted((r.table_idx, r.row_idx, r.col_idx, r.caption,
                  r.is_header, r.rowspan, r.colspan, r.cell)
                 for r in extract_tables(pages).collect())
    assert got == [
        (0, 0, 0, "Stats", True, 1, 1, "name"),
        (0, 0, 1, "Stats", True, 1, 2, "vals"),
        (0, 1, 0, "Stats", False, 1, 1, "a"),
        (0, 1, 1, "Stats", False, 1, 1, "1"),
        (0, 1, 2, "Stats", False, 2, 1, "2"),
        (1, 0, 0, None, True, 1, 1, "x"),   # synthetic-tr repair row
        (1, 1, 0, None, False, 1, 1, "1"),
        (1, 1, 1, None, False, 1, 1, "2"),
        (2, 0, 0, None, False, 1, 1, "outer inner tail"),
        (3, 0, 0, None, False, 1, 1, "inner"),
    ]


def test_template_fingerprints(spark):
    """Structural fingerprints: same template + different text hash
    identically, a truncated/unclosed variant matches its well-formed
    siblings (implicit closure, non-synthetic walk), a different
    structure diverges, and synthetic table-repair nodes don't count."""
    import hashlib

    from fortissimo_spark.kernel import template_fingerprints
    t0a = b"<html><head><title>X</title></head><body><p>alpha</p></body></html>"
    t0b = b"<html><head><title>Y</title></head><body><p>beta beta"
    t1 = (b"<html><body><nav><a href=x>L</a></nav>"
          b"<article><p>t</p><p>m</p></article></body></html>")
    # stray th inside a table synthesizes a tr: the synthetic node must
    # NOT enter the sequence (html,body,table,th)
    t2 = b"<html><body><table><th>x</table></body></html>"
    pages = spark.createDataFrame(
        [("a", bytearray(t0a)), ("b", bytearray(t0b)),
         ("c", bytearray(t1)), ("d", bytearray(t2))],
        "url string, html binary")
    got = {r.url: (r.template_hash, r.n_elements)
           for r in template_fingerprints(pages).collect()}
    h0 = hashlib.md5(b"html,head,title,body,p").hexdigest()
    assert got["a"] == (h0, 5)
    assert got["b"] == (h0, 5)
    assert got["c"] == (hashlib.md5(
        b"html,body,nav,a,article,p,p").hexdigest(), 7)
    assert got["d"] == (hashlib.md5(
        b"html,body,table,th").hexdigest(), 4)


def test_remove_near_dup_paragraphs_fuzzy(spark):
    """Fuzzy paragraph dedup: variants of a boilerplate sentence that
    differ in one token cluster across docs and only the smallest
    (doc, pos) copy survives; unique bodies survive; short paragraphs
    never enter dedup; exact paragraph copies also collapse."""
    from fortissimo_spark.dedup import remove_near_dup_paragraphs
    boiler = ("sign up for our excellent newsletter today and receive "
              "many wonderful daily updates about absolutely everything "
              "interesting near you version")
    rows = [
        (1, f"unique body one\n\n{boiler} A"),
        (2, f"unique body two\n\n{boiler} B"),
        (3, f"unique body three\n\n{boiler} A"),   # exact copy of 1's
        (4, "all alone"),
        (5, "short\n\nshort"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.text_clean, r.n_paras_removed)
           for r in remove_near_dup_paragraphs(df, threshold=0.8)
           .collect()}
    assert out[1] == (f"unique body one\n\n{boiler} A", 0)  # canonical
    assert out[2] == ("unique body two", 1)
    assert out[3] == ("unique body three", 1)
    assert out[4] == ("all alone", 0)
    assert out[5] == ("short\n\nshort", 0)
    # a stricter threshold separates the A/B variants but still folds
    # the exact A copy
    strict = {r.doc_id: r.n_paras_removed
              for r in remove_near_dup_paragraphs(df, threshold=0.999)
              .collect()}
    assert strict == {1: 0, 2: 0, 3: 1, 4: 0, 5: 0}


def test_zipf_stats_hand_corpus(spark):
    """Zipf diagnostic against an independent least-squares replay:
    planted counts a:8 b:4 c:2 d:1, top_n cut, (count desc, term)
    tie order, and the exact share/vocab totals."""
    import math

    from fortissimo_spark.textstats import zipf_stats
    docs = spark.createDataFrame(
        [(1, " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"]))],
        "doc_id long, text string")
    r = zipf_stats(docs, top_n=3).collect()[0]
    # replay the exact-integer design: 6-dp integer-scaled logs, exact
    # int sums, ONE fixed-shape double expression at the end
    xs = [round(math.log(i + 1) * 1e6) for i in range(3)]
    ys = [round(math.log(c) * 1e6) for c in (8, 4, 2)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    assert r.zipf_slope == round(slope, 6)
    assert r.zipf_intercept == round((sy - slope * sx) / (n * 1e6), 6)
    assert (r.vocab_size, r.total_tokens) == (4, 15)
    assert r.top_share == round(14 / 15, 6)


def test_wet_write_read_roundtrip(spark, tmp_path):
    """WET sink + reader: rows shard per partition into
    part-NNNNN.warc.wet.gz, read back byte-identically (url, ts, text)
    — incl. multibyte text whose Content-Length must be the byte
    count; uncompressed flavor too."""
    from fortissimo_spark.warc import read_wets, write_wet
    rows = [(f"https://h{i % 3}.example/p/{i}", "2024-03-01T00:00:0%dZ" % (i % 10),
             f"text {i} — café ✓ {'x' * i}") for i in range(20)]
    df = spark.createDataFrame(rows, "url string, wet_date string, "
                               "text string").repartition(3)
    out = str(tmp_path / "wet")
    n = write_wet(df, out)
    assert n == 3
    back = {r.url: (r.warc_ts.isoformat(), r.text)
            for r in read_wets(spark, out + "/part-*").collect()}
    assert len(back) == 20
    for url, date, text in rows:
        assert back[url] == (date.replace("Z", ""), text)
    # uncompressed flavor
    out2 = str(tmp_path / "wet_plain")
    write_wet(df.coalesce(1), out2, compress=False)
    back2 = read_wets(spark, out2 + "/part-*").count()
    assert back2 == 20


def test_wet_write_null_rows_and_stale_shards(spark, tmp_path):
    """Writer hardening: NULL url/date/text rows are dropped (they have
    no WET representation and used to TypeError the task), and a re-run
    into the same dir with FEWER partitions removes the stale
    higher-numbered shards and counts only this run's files."""
    from fortissimo_spark.warc import read_wets, write_wet
    rows = [("https://h.example/1", "2024-03-01T00:00:00Z", "one"),
            (None, "2024-03-01T00:00:01Z", "no url"),
            ("https://h.example/2", None, "no date"),
            ("https://h.example/3", "2024-03-01T00:00:03Z", None),
            ("https://h.example/4", "2024-03-01T00:00:04Z", "four")]
    df = spark.createDataFrame(rows, "url string, wet_date string, "
                               "text string")
    out = str(tmp_path / "wet")
    assert write_wet(df.repartition(4), out) <= 4
    urls = {r.url for r in read_wets(spark, out + "/part-*").collect()}
    assert urls == {"https://h.example/1", "https://h.example/4"}
    # re-run with one partition: old shards must neither survive nor count
    assert write_wet(df.coalesce(1), out) == 1
    import glob
    assert len(glob.glob(out + "/part-*")) == 1
    assert read_wets(spark, out + "/part-*").count() == 2


def test_warc_write_null_rows(spark, tmp_path):
    """write_warc mirrors the write_wet null/stale contract."""
    from fortissimo_spark.warc import read_warcs, write_warc
    rows = [("https://h.example/a", "2024-03-01T00:00:00Z", b"<p>A</p>"),
            (None, "2024-03-01T00:00:01Z", b"<p>drop</p>"),
            ("https://h.example/b", "2024-03-01T00:00:02Z", None)]
    df = spark.createDataFrame(rows, "url string, warc_date string, "
                               "html binary")
    out = str(tmp_path / "warc")
    assert write_warc(df.repartition(2), out) >= 1
    back = {r.url for r in read_warcs(spark, out + "/part-*").collect()}
    assert back == {"https://h.example/a"}


def test_outlinks_share_declared_charset_retry(spark):
    """A page that decodes as valid UTF-8 but DECLARES windows-1252
    must yield the same (re-decoded) anchors from the outlink kernel
    as from page_analysis — both now share kernel.decode_parse."""
    from fortissimo_spark.graph import extract_outlinks
    from fortissimo_spark.kernel import decode_parse
    html = ("<meta charset=windows-1252>"
            "<a href='/x'>café</a>").encode("utf-8")
    # utf-8 decode succeeds, declared cp1252 disagrees -> retry path
    result, used, declared, retried = decode_parse(html)
    assert retried and used == "cp1252"
    expected_anchor = html.decode("cp1252")[
        html.decode("cp1252").index(">caf") + 1:].split("<")[0]
    pages = spark.createDataFrame([("https://h.example/p", html)],
                                  "url string, html binary")
    got = extract_outlinks(pages).collect()
    assert len(got) == 1
    assert got[0].anchor == expected_anchor  # 'cafÃ©' per cp1252 retry


def test_audio_fingerprint_mp3_wav_cross_codec(spark):
    """The energy-envelope fingerprint must survive mp3 re-encoding:
    the SAME decisive 65-step amplitude envelope as 16-bit WAV and as
    an MPEG-1 Layer III stream (tests/mp3_encoder.py) fingerprints
    within the near-dup hamming budget, and audio_near_dups pairs
    them — the mp3 counterpart of the pinned WAV<->FLAC identity."""
    import io
    import wave

    import numpy as np

    from fortissimo_spark.modality import (MEDIA_SCHEMA,
                                           audio_fingerprint,
                                           audio_near_dups,
                                           with_audio_fingerprint)
    from tests.mp3_encoder import encode_mp3

    sr, win = 32000, 4096
    t = np.arange(65 * win)
    # 3-level cycle: every adjacent-window comparison is decisive
    # (no equal-loudness neighbors whose bit a lossy codec could flip)
    amps = np.array([(0.06, 0.2, 0.45)[i % 3] for i in range(65)])
    x = np.repeat(amps, win) * np.sin(2 * np.pi * 440 * t / sr)

    # the mp3 loses the trailing partial granule + codec delay; cut
    # the WAV to the same length so the 65 envelope windows align
    # (the fingerprint compares the SAME audio span both ways)
    n_gr = (len(x) // 32) // 18
    wav_len = n_gr * 576 - 1056
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes((x[:wav_len] * 32767).astype("<i2").tobytes())
    wav_bytes = buf.getvalue()
    mp3_bytes = encode_mp3(x, sample_rate=sr, table=9, max_q=5)

    fp_w = audio_fingerprint(wav_bytes)
    fp_m = audio_fingerprint(mp3_bytes)
    assert fp_w is not None and fp_m is not None
    ham = bin((fp_w ^ fp_m) & ((1 << 64) - 1)).count("1")
    assert ham <= 3, f"cross-codec hamming {ham}"

    media = spark.createDataFrame(
        [(1, "audio", wav_bytes, "audio/wav", None, None, None),
         (2, "audio", mp3_bytes, "audio/mpeg", None, None, None)],
        MEDIA_SCHEMA)
    fps = with_audio_fingerprint(media)
    pairs = audio_near_dups(fps, max_hamming=3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_audio_fingerprint_and_near_dups(spark):
    """Energy-envelope fingerprint: closed-form WAV envelopes, the SAME
    envelope re-encoded as FLAC (16-bit, via the independent spec
    encoder) fingerprints identically — the re-encoding robustness the
    hash exists for — near-dups pair banded, corrupt payloads yield
    NULL rows."""
    import io
    import wave

    from fortissimo_spark.modality import (audio_fingerprint,
                                           audio_near_dups,
                                           with_audio_fingerprint)
    from tests.flac_encoder import encode_flac

    def wav(amps):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(8000)
            frames = bytearray()
            for a in amps:
                for i in range(16):
                    frames.append(128 + (a if i % 2 == 0 else -a))
            w.writeframes(bytes(frames))
        return buf.getvalue()

    rising = [1 + i for i in range(65)]
    asc = wav(rising)
    desc = wav(list(reversed(rising)))
    alt = wav([100 if i % 2 == 0 else 20 for i in range(65)])
    assert audio_fingerprint(asc) == -1
    assert audio_fingerprint(desc) == 0
    assert audio_fingerprint(alt) == 6148914691236517205
    # same envelope, different codec + bit depth: identical fingerprint
    flac_samples = []
    for a in rising:
        flac_samples += [a * 256 if i % 2 == 0 else -a * 256
                         for i in range(16)]
    flac_asc = encode_flac([flac_samples], 8000, 16)
    assert audio_fingerprint(flac_asc) == -1
    media = spark.createDataFrame(
        [(1, bytearray(asc)), (2, bytearray(flac_asc)),
         (3, bytearray(alt)), (4, bytearray(b"junk"))],
        "media_id long, payload binary")
    fp = with_audio_fingerprint(media)
    rows = {r.media_id: (r.sample_rate, r.afp) for r in fp.collect()}
    assert rows[1] == (8000, -1) and rows[2] == (8000, -1)
    assert rows[4] == (None, None)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in audio_near_dups(fp).collect()}
    assert pairs == {(1, 2): 0}


def test_image_dhash_and_near_dups(spark):
    """Perceptual dHash through the real decoders and the banded
    near-dup join: closed-form gradients/checkerboard hashes, a
    re-encoded copy (P3 of the same pixels, one block nudged) lands
    within the radius, an unrelated pattern doesn't pair, corrupt
    payloads yield NULL rows, and NULL hashes never enter the join."""
    from fortissimo_spark.modality import (image_dhash, image_near_dups,
                                           with_image_dhash)

    def p3(lum):
        vals = []
        for y in range(16):
            for x in range(18):
                v = lum(x, y)
                vals += [v, v, v]
        return ("P3\n18 16\n255\n" + " ".join(map(str, vals))).encode()

    asc = p3(lambda x, y: x * 14)
    desc = p3(lambda x, y: 238 - x * 14)
    chk = p3(lambda x, y: 200 if (x // 2) % 2 == 0 else 40)
    # near-copy of asc: one 2-column block brightened in the TOP two
    # grid rows flips exactly 2 bits, both inside the high 16-bit band
    # (a flip spread across all four bands would be un-bandable — the
    # documented recall boundary)
    near = p3(lambda x, y: 255 if x in (6, 7) and y < 4 else x * 14)
    assert image_dhash(asc) == 0
    assert image_dhash(desc) == -1
    assert image_dhash(chk) == -6148914691236517206
    assert bin((image_dhash(near) ^ 0) & (2**64 - 1)).count("1") == 2
    media = spark.createDataFrame(
        [(1, bytearray(asc)), (2, bytearray(asc)), (3, bytearray(near)),
         (4, bytearray(chk)), (5, bytearray(b"corrupt"))],
        "media_id long, payload binary")
    hashed = with_image_dhash(media)
    rows = {r.media_id: (r.width, r.dhash) for r in hashed.collect()}
    assert rows[1] == (18, 0) and rows[2] == (18, 0)
    assert rows[5] == (None, None)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_near_dups(hashed, max_hamming=3).collect()}
    assert pairs == {(1, 2): 0, (1, 3): 2, (2, 3): 2}
    assert not any(4 in p or 5 in p for p in pairs)
    tight = {(r.id_a, r.id_b)
             for r in image_near_dups(hashed, max_hamming=1).collect()}
    assert tight == {(1, 2)}             # identical copy only


def test_extract_sections_hand_pages(spark):
    """Outline segmentation: preamble only when non-empty, heading text
    through inline markup, minified adjacent blocks don't weld words,
    script/style/head text excluded, entities decode, empty headings
    still open sections, unterminated trailing heading swallows the
    tail as its own text."""
    from fortissimo_spark.kernel import extract_sections
    html = ("<html><head><title>T</title><style>p{}</style></head><body>"
            "intro &amp; preamble"
            "<h1>Title <em>A</em></h1><p>para a1</p><p>a2</p>"
            "<h2>Sub B</h2>text b <script>var x=1;</script> more b"
            "<h2></h2>after empty"
            "<h3>Deep C swallows tail</body></html>").encode()
    pages = spark.createDataFrame(
        [("u1", bytearray(html)),
         ("u2", bytearray(b"<body><p>no headings at all</p></body>"))],
        "url string, html binary")
    got = {(r.url, r.section_idx): (r.level, r.heading, r.sec_text)
           for r in extract_sections(pages).collect()}
    assert got == {
        ("u1", 0): (0, None, "intro & preamble"),
        ("u1", 1): (1, "Title A", "para a1 a2"),
        ("u1", 2): (2, "Sub B", "text b more b"),
        ("u1", 3): (2, "", "after empty"),
        ("u1", 4): (3, "Deep C swallows tail", ""),
        ("u2", 0): (0, None, "no headings at all"),
    }


def test_best_snippet_hand_corpus(spark):
    """Window argmax pinned by hand: distinct-coverage beats raw hits,
    ties fall to total hits then earliest start; a hit near EOF yields
    a short snippet; hitless docs drop."""
    from fortissimo_spark.textstats import best_snippet
    docs = spark.createDataFrame(
        [(1, "x q1 x x q2 q1 x x x x x x x q2"),
         (2, "a b q1"),
         (3, "no hits here at all"),
         # one q2+q1 window (nd=2) must beat a q1 q1 q1 run (nh=3)
         (4, "q1 q1 q1 x x x x x x x q2 q1")],
        "doc_id long, text string")
    out = {r.doc_id: (r.start_pos, r.n_distinct, r.n_hits, r.snippet)
           for r in best_snippet(docs, ["q1", "q2"], window=4).collect()}
    # doc 1: anchors 1 and 4 both cover {q1,q2} with 2 hits -> earliest
    assert out[1] == (1, 2, 2, "q1 x x q2")
    # doc 2: window runs past EOF, snippet truncates
    assert out[2] == (2, 1, 1, "q1")
    assert 3 not in out
    # doc 4: [10,14) covers q2,q1 (nd=2) over the nd=1/nh=3 run at 0
    assert out[4] == (10, 2, 2, "q2 q1")


def test_best_snippet_anchor_cap_bounds_stuffed_doc(spark):
    """Adversarial keyword-stuffed doc: 20k hits used to cost O(h²) ~
    4x10⁸ nested-struct ops in ONE task; the anchor cap makes it
    O(cap*h) and the argmax is unchanged (all anchors tie -> earliest,
    which is inside any prefix). A doc where the BEST window starts
    after the cap shows the documented prefix semantics."""
    import time
    from fortissimo_spark.textstats import best_snippet
    stuffed = " ".join(["spark"] * 20000)
    # best window (q1 q2) begins at hit index 300 (> cap 256): capped
    # argmax picks the best among the first 256 anchors instead
    tail = " ".join(["q1"] * 300) + " q1 q2"
    docs = spark.createDataFrame([(1, stuffed), (2, tail)],
                                 "doc_id long, text string")
    t0 = time.monotonic()
    out = {r.doc_id: (r.start_pos, r.n_distinct, r.n_hits)
           for r in best_snippet(docs, ["spark", "q1", "q2"],
                                 window=12).collect()}
    elapsed = time.monotonic() - t0
    assert out[1] == (0, 1, 12)        # all-tie -> earliest anchor
    assert out[2] == (0, 1, 12)        # best-after-cap falls to prefix
    assert elapsed < 90, f"stuffed doc took {elapsed:.1f}s - cap broken?"
    # raising the cap past the hit count restores the uncapped argmax
    out2 = {r.doc_id: (r.start_pos, r.n_distinct)
            for r in best_snippet(docs, ["q1", "q2"], window=12,
                                  anchor_cap=1000).collect()}
    assert out2[2] == (290, 2)         # window [290,302) covers q1+q2


def test_extract_rdfa_hand_pages(spark):
    """RDFa-lite rules pinned: vocab resolution for bare terms,
    prefixed typeof kept verbatim, content/url/datetime/text value
    precedence, nested resources as #res refs, strays outside any
    typeof drop, propless resources emit a census row."""
    from fortissimo_spark.kernel import extract_rdfa
    html = ("""<html><body vocab="https://schema.org/">
      <div typeof="Article">
        <h1 property="headline">Big <em>News</em></h1>
        <meta property="wordCount" content="420">
        <a property="url" href="/a1">link</a>
        <time property="datePublished" datetime="2024-03-01">Mar</time>
        <div property="author" typeof="Person">
          <span property="name">Ada</span>
        </div>
      </div>
      <div typeof="sioc:Post"></div>
      <span property="stray">ignored</span>
      </body></html>""").encode()
    pages = spark.createDataFrame([("u1", bytearray(html))],
                                  "url string, html binary")
    got = sorted((r.res_idx, r.prop, r.value, r.is_res_ref, r.res_type)
                 for r in extract_rdfa(pages).collect())
    assert got == [
        (0, "author", "#res1", True, "https://schema.org/Article"),
        (0, "datePublished", "2024-03-01", False,
         "https://schema.org/Article"),
        (0, "headline", "Big News", False, "https://schema.org/Article"),
        (0, "url", "/a1", False, "https://schema.org/Article"),
        (0, "wordCount", "420", False, "https://schema.org/Article"),
        (1, "name", "Ada", False, "https://schema.org/Person"),
        (2, None, None, False, "sioc:Post"),
    ]


def test_warc_write_read_roundtrip(spark, tmp_path):
    """WARC response sink + the existing reader: rows shard per
    partition into part-NNNNN.warc.gz, re-ingest through read_warcs
    byte-identically (url, ts, html) — including multibyte payloads
    whose Content-Lengths must be byte counts; uncompressed flavor
    too."""
    from fortissimo_spark.warc import read_warcs, write_warc
    rows = [(f"https://h{i % 3}.example/p/{i}",
             "2024-03-01T00:00:%02dZ" % (i % 60),
             bytearray(f"<html><p>page {i} — café ✓</p></html>".encode()))
            for i in range(15)]
    df = spark.createDataFrame(
        rows, "url string, warc_date string, html binary").repartition(3)
    out = str(tmp_path / "warc")
    assert write_warc(df, out) == 3
    back = {r.url: (r.warc_ts.isoformat(), bytes(r.html))
            for r in read_warcs(spark, out + "/part-*").collect()}
    assert len(back) == 15
    for url, date, html in rows:
        assert back[url] == (date.replace("Z", ""), bytes(html))
    out2 = str(tmp_path / "warc_plain")
    write_warc(df.coalesce(1), out2, compress=False)
    assert read_warcs(spark, out2 + "/part-*").count() == 15


def test_extract_microdata_hand_pages(spark):
    """Microdata value rules pinned: textContent through inline markup,
    meta content, img src, time datetime, nested item as #item ref plus
    its own rows, propless items emit a NULL-prop census row, strays
    outside any itemscope drop."""
    from fortissimo_spark.kernel import extract_microdata
    html = ("""<html><body>
      <div itemscope itemtype="https://schema.org/Product">
        <span itemprop="name">Widget <b>Pro</b></span>
        <meta itemprop="sku" content="SKU-42">
        <img itemprop="image" src="/w.png">
        <time itemprop="released" datetime="2024-03-01">March</time>
        <div itemprop="offers" itemscope
             itemtype="https://schema.org/Offer">
          <span itemprop="price">19.99</span>
        </div>
      </div>
      <div itemscope itemtype="https://schema.org/Thing"></div>
      <span itemprop="stray">ignored</span>
      </body></html>""").encode()
    pages = spark.createDataFrame([("u1", bytearray(html))],
                                  "url string, html binary")
    got = sorted((r.item_idx, r.prop, r.value, r.is_item_ref,
                  r.item_type)
                 for r in extract_microdata(pages).collect())
    assert got == [
        (0, "image", "/w.png", False, "https://schema.org/Product"),
        (0, "name", "Widget Pro", False, "https://schema.org/Product"),
        (0, "offers", "#item1", True, "https://schema.org/Product"),
        (0, "released", "2024-03-01", False,
         "https://schema.org/Product"),
        (0, "sku", "SKU-42", False, "https://schema.org/Product"),
        (1, "price", "19.99", False, "https://schema.org/Offer"),
        (2, None, None, False, "https://schema.org/Thing"),
    ]


def test_degree_assortativity_hand_graph(spark):
    """Pearson replay on a hand star-plus-chain: hub a->b,c,d plus
    b->c gives per-edge (out-deg src, in-deg dst) pairs computable by
    hand; a regular cycle has zero variance -> NULL r; duplicate and
    self-loop edges are ignored."""
    import math

    from fortissimo_spark.graph import degree_assortativity
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
         ("a", "b"), ("c", "c")],
        "src string, dst string")
    r = degree_assortativity(edges).collect()[0]
    # edges: (3,1) (3,2) (3,1) (1,2)  [x=out(src), y=in(dst)]
    xs, ys = [3, 3, 3, 1], [1, 2, 1, 2]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx, syy = sum(a * a for a in xs), sum(b * b for b in ys)
    exp = round((n * sxy - sx * sy)
                / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
    assert (r.n_edges, r.r) == (4, exp)
    cyc = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                                "src string, dst string")
    rc = degree_assortativity(cyc).collect()[0]
    assert (rc.n_edges, rc.r) == (3, None)


def test_allocate_crawl_budget(spark):
    """Hamilton apportionment by hand: floors + largest remainders sum
    exactly to the budget, remainder ties fall to the smaller id,
    zero/NULL weights get nothing, and a zero budget allocates zero."""
    from fortissimo_spark.urls import allocate_crawl_budget
    w = spark.createDataFrame(
        [("a", 5.0), ("b", 3.0), ("c", 2.0), ("z", 0.0), ("n", None)],
        "id string, weight double")
    got = {r.id: r.slots
           for r in allocate_crawl_budget(w, 7).collect()}
    # shares 3.5 / 2.1 / 1.4 -> bases 3/2/1, leftover 1 -> largest
    # remainder (.5) wins
    assert got == {"a": 4, "b": 2, "c": 1, "z": 0, "n": 0}
    assert sum(got.values()) == 7
    tie = {r.id: r.slots for r in allocate_crawl_budget(
        spark.createDataFrame([("x", 1.0), ("y", 1.0)],
                              "id string, weight double"), 3).collect()}
    assert tie == {"x": 2, "y": 1}       # .5/.5 tie -> smaller id
    zero = {r.id: r.slots for r in allocate_crawl_budget(w, 0).collect()}
    assert set(zero.values()) == {0}


def test_k_core_hand_graph(spark):
    """Peeling cascade by hand: a triangle with a 3-node pendant chain
    — the 2-core peels the chain one node per round and keeps exactly
    the triangle; the 4-core of the same graph is empty; an isolated
    node never survives k=1."""
    from fortissimo_spark.graph import k_core
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0),          # triangle
         (2, 3), (3, 4), (4, 5),          # pendant chain
         (1, 0)],                          # reverse dup must not inflate
        "src long, dst long")
    core2 = {r.id: r.in_core for r in k_core(edges, nodes, 2).collect()}
    assert core2 == {0: True, 1: True, 2: True, 3: False, 4: False,
                     5: False, 6: False}
    core4 = {r.id for r in k_core(edges, nodes, 4).collect() if r.in_core}
    assert core4 == set()
    core1 = {r.id: r.in_core for r in k_core(edges, nodes, 1).collect()}
    assert core1[5] is True and core1[6] is False   # isolated node out


def test_bm25f_hand_corpus(spark):
    """BM25F against an independent Python replay: anchor-only docs
    rank, field tfs normalize by their own lengths and saturate ONCE
    after the weighted sum (not per field), idf uses field-union df."""
    import math

    from fortissimo_spark.textstats import bm25f_search
    docs = spark.createDataFrame(
        [(1, "spark x"), (2, "y z"), (3, "spark spark w q")],
        "doc_id long, text string")
    anchors = spark.createDataFrame(
        [(2, "spark spark guide"), (2, "spark"), (1, "other words")],
        "doc_id long, anchor string")
    got = {r.doc_id: (r.n_hits, r.score, r.rank)
           for r in bm25f_search(docs, anchors, ["spark"],
                                 top_k=10).collect()}
    # replay: dl = {1:2, 2:2, 3:4}, avgdl = 8/3; al = {1:2, 2:4},
    # avgal = 3; tf_b = {1:1, 3:2}; tf_a = {2:3}; df(spark) = 3, N = 3
    avgdl, avgal = 8 / 3, 3.0
    idf = math.log(1 + (3 - 3 + 0.5) / (3 + 0.5))

    def tff(tb, dl, ta, al):
        v = tb / (1 - 0.75 + 0.75 * dl / avgdl)
        if al is not None:
            v += 2.0 * ta / (1 - 0.5 + 0.5 * al / avgal)
        return v

    def score(tb, dl, ta, al):
        t = tff(tb, dl, ta, al)
        return round(round(idf * t / (1.2 + t), 9), 9)

    exp = {1: score(1, 2, 0, 2), 2: score(0, 2, 3, 4),
           3: score(2, 4, 0, None)}
    order = sorted(exp, key=lambda k: (-exp[k], k))
    for doc in (1, 2, 3):
        assert got[doc][1] == exp[doc], (doc, got[doc], exp[doc])
        assert got[doc][2] == order.index(doc) + 1
    assert got[2][0] == 1          # anchor-only hit still counts


def test_link_reciprocity_hand_graph(spark):
    """a<->b mutual, a->c one-way, d isolated: reciprocal counts and
    ratios by hand; duplicate and self-loop edges must not distort the
    distinct-edge statistics."""
    from fortissimo_spark.graph import link_reciprocity
    nodes = spark.createDataFrame([(i,) for i in "abcd"], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "b"), ("c", "c")],
        "src string, dst string")
    got = {r.id: (r.out_deg, r.in_deg, r.n_reciprocal, r.reciprocity)
           for r in link_reciprocity(edges, nodes).collect()}
    assert got == {
        "a": (2, 1, 1, 0.5),
        "b": (1, 1, 1, 1.0),
        "c": (0, 1, 0, None),
        "d": (0, 0, 0, None),
    }


def test_label_propagation_hand_graph(spark):
    """Two triangles joined by one weak bridge: sync weighted LPA with
    min-label ties must merge each triangle to its smallest member and
    keep the bridge from bleeding labels across; an isolated node keeps
    its own label. Weighted variant: a heavy parallel edge outvotes two
    light ones."""
    from fortissimo_spark.graph import label_propagation
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(3, 4), (4, 5), (5, 3)]
    edges = spark.createDataFrame(tri1 + tri2 + [(2, 3)],
                                  "src long, dst long")
    lab = {r.id: r.label
           for r in label_propagation(edges, nodes,
                                      num_iters=4).collect()}
    # hand trace: tri1 collapses to 0 by sweep 2; node 3's sweep-1
    # ballot {4, 5, 2} is a three-way tie whose min is bridge label 2,
    # so tri2 converges to label 2 — separate community, leaked name.
    # Stable from sweep 3 (sweep 4 reproduces sweep 3's labels).
    assert lab == {0: 0, 1: 0, 2: 0, 3: 2, 4: 2, 5: 2, 6: 6}
    # weights beat counts: node 2 sees label-0/label-1 mass 1.0 each
    # but a weight-5 edge to node 9 outvotes both in sweep 1
    wnodes = spark.createDataFrame([(0,), (1,), (2,), (9,)], "id long")
    wedges = spark.createDataFrame(
        [(0, 2, 1.0), (1, 2, 1.0), (9, 2, 5.0), (0, 1, 1.0)],
        "src long, dst long, w double")
    wlab = {r.id: r.label
            for r in label_propagation(wedges, wnodes, num_iters=1,
                                       weight_col="w").collect()}
    assert wlab[2] == 9


def test_hits_hand_graph(spark):
    """a->b, a->c, b->c: a is the pure hub (links both authorities,
    never linked), c the top authority. One sweep, L1-normalized,
    replayed in plain Python with the same 12-dp grid."""
    import math

    from fortissimo_spark.graph import hits
    nodes = spark.createDataFrame([(i,) for i in "abc"], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string")
    out = {r.id: (r.hub, r.authority)
           for r in hits(edges, nodes, num_iters=1).collect()}
    # auth raw: b=1, c=2 -> /3; hub raw: a=auth(b)+auth(c)=1, b=auth(c)
    third = round(1 / 3, 12)
    two3 = round(2 / 3, 12)
    tot = third + two3 + 0.0
    exp = {"a": (round(1.0 / (1.0 + two3), 12), 0.0),
           "b": (round(two3 / (1.0 + two3), 12), third),
           "c": (0.0, two3)}
    for k, (h, a) in exp.items():
        assert math.isclose(out[k][0], h, abs_tol=1e-9), (k, out[k], h)
        assert math.isclose(out[k][1], a, abs_tol=1e-9), (k, out[k], a)
    # edgeless graph: all zeros, no division blow-up
    none = hits(spark.createDataFrame([("x", "y")],
                                      "src string, dst string").limit(0),
                nodes, num_iters=1).collect()
    assert {(r.hub, r.authority) for r in none} == {(0.0, 0.0)}


def _salsa_replay(edge_list, node_list, iters):
    """Plain-Python replay of graph.salsa's iteration (unit weights,
    12-dp grid) for hand fixtures."""
    from collections import defaultdict
    ow, iw = defaultdict(float), defaultdict(float)
    for s, d in edge_list:
        ow[s] += 1.0
        iw[d] += 1.0
    hub = {n: 1.0 for n in node_list}
    auth = {n: 0.0 for n in node_list}
    for _ in range(iters):
        raw = {n: 0.0 for n in node_list}
        for s, d in edge_list:
            raw[d] += hub[s] * (1.0 / ow[s])
        tot = sum(raw.values())
        auth = {n: round(v / tot, 12) if tot else 0.0
                for n, v in raw.items()}
        raw = {n: 0.0 for n in node_list}
        for s, d in edge_list:
            raw[s] += auth[d] * (1.0 / iw[d])
        tot = sum(raw.values())
        hub = {n: round(v / tot, 12) if tot else 0.0
               for n, v in raw.items()}
    return hub, auth


def test_salsa_hand_graph_and_tkc_immunity(spark):
    """SALSA against a plain-Python replay, plus THE discriminating
    property vs HITS (Lempel & Moran's TKC argument): a tightly
    interlinked 4-node farm clique (reinforcement eigenvalue 3x3=9)
    out-reinforces a 4-hub star (eigenvalue 4) under HITS, but under
    SALSA's degree-normalized walk the star center (in-degree 4 vs 3)
    holds the top authority."""
    import math

    from fortissimo_spark.graph import hits, salsa
    clique = ["f", "g", "k", "m"]
    stars = ["h1", "h2", "h3", "h4"]
    node_list = clique + stars + ["z"]
    edge_list = ([(a, b) for a in clique for b in clique if a != b]
                 + [(h, "z") for h in stars])
    nodes = spark.createDataFrame([(n,) for n in node_list], "id string")
    edges = spark.createDataFrame(edge_list, "src string, dst string")

    out_s = {r.id: (r.hub, r.authority)
             for r in salsa(edges, nodes, num_iters=4).collect()}
    hub_exp, auth_exp = _salsa_replay(edge_list, node_list, 4)
    for n in node_list:
        assert math.isclose(out_s[n][0], hub_exp[n], abs_tol=1e-9), n
        assert math.isclose(out_s[n][1], auth_exp[n], abs_tol=1e-9), n

    out_h = {r.id: r.authority
             for r in hits(edges, nodes, num_iters=4).collect()}
    # HITS: the farm's mutual reinforcement beats the star center
    assert max(out_h[c] for c in clique) > out_h["z"]
    # SALSA: one unit of mass per hub -> in-degree wins, farm loses
    assert out_s["z"][1] > max(out_s[c][1] for c in clique)

    # edgeless graph: zeros, no division blow-up
    none = salsa(spark.createDataFrame([("x", "y")],
                                       "src string, dst string").limit(0),
                 nodes, num_iters=1).collect()
    assert {(r.hub, r.authority) for r in none} == {(0.0, 0.0)}


def test_bm25_search_hand_corpus(spark):
    """BM25 scores against a plain-Python replay of the formula
    (Lucene's non-negative idf variant), top-k cut and rank order."""
    import math

    from fortissimo_spark.textstats import bm25_search
    corpus = [(1, "a b a c"), (2, "b b d"), (3, "a")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = bm25_search(docs, ["a", "d"], top_k=2)
    rows = {r.doc_id: (r.n_hits, r.score, r.rank) for r in out.collect()}

    toks = {i: t.split() for i, t in corpus}
    n, avgdl = len(toks), sum(map(len, toks.values())) / len(toks)
    df = {"a": 2, "d": 1}
    k1, b = 1.2, 0.75

    def score(doc, terms):
        s = 0.0
        for t in terms:
            tf = toks[doc].count(t)
            if not tf:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += round(idf * tf * (k1 + 1)
                       / (tf + k1 * (1 - b + b * len(toks[doc]) / avgdl)), 9)
        return round(s, 9)

    # doc2 hits d (rare, high idf); doc1 hits a twice; doc3 once. Only
    # the top 2 survive the cut.
    exp = sorted(((d, score(d, ["a", "d"])) for d in (1, 2, 3)),
                 key=lambda p: (-p[1], p[0]))[:2]
    assert set(rows) == {d for d, _ in exp}
    for rank, (d, s) in enumerate(exp, 1):
        n_hits = sum(1 for t in ("a", "d") if t in toks[d])
        assert rows[d] == (n_hits, s, rank), (d, rows[d], (n_hits, s, rank))


def test_trustrank_hand_graph(spark):
    """Seeded cycle a->b->c->a plus a 2-node spam farm d<->e with no
    path from the seed: trust flows only along links out of {a}, so
    the farm scores exactly 0 however well-linked it is internally —
    the TrustRank property PageRank lacks. Hand power iteration:
    t0=(1,0,0,0,0); t1: a=.15, b=.85; t2: a=.15, b=.1275, c=.7225."""
    import math

    from fortissimo_spark.graph import trustrank
    nodes = spark.createDataFrame([(i,) for i in "abcde"], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "d")],
        "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("zz",)], "id string")
    out = {r.id: r.trust for r in
           trustrank(edges, nodes, seeds, num_iters=2).collect()}
    exp = {"a": 0.15, "b": 0.1275, "c": 0.7225, "d": 0.0, "e": 0.0}
    for k, v in exp.items():
        assert math.isclose(out[k], v, abs_tol=1e-9), (k, out[k], v)
    # seed not present in nodes ("zz") was ignored: teleport mass was
    # 1/1, not 1/2 — already pinned by the values above. Empty seed
    # set short-circuits to all-zero trust.
    none = trustrank(edges, nodes,
                     spark.createDataFrame([("zz",)], "id string"),
                     num_iters=1).collect()
    assert {r.trust for r in none} == {0.0}


def test_parse_sitemaps_edges(spark):
    """Namespace-prefixed tags, malformed dates/priorities (NULL via
    try-casts, never an ANSI throw), loc-less entries skipped,
    changefreq case-folded, index + urlset in one frame."""
    from fortissimo_spark.robots import parse_sitemaps
    xml1 = (b'<?xml version="1.0"?><sm:urlset xmlns:sm="x">'
            b'<sm:url><sm:loc>https://s/a</sm:loc>'
            b'<sm:lastmod>not-a-date</sm:lastmod>'
            b'<sm:changefreq>WEEKLY</sm:changefreq>'
            b'<sm:priority>high</sm:priority></sm:url>'
            b'<sm:url><sm:priority>0.5</sm:priority></sm:url>'
            b'</sm:urlset>')
    xml2 = (b'<sitemapindex><sitemap><loc>https://s/shard1.xml</loc>'
            b'<lastmod>2025-02-01T10:00:00Z</lastmod></sitemap>'
            b'</sitemapindex>')
    df = spark.createDataFrame([("u1", xml1), ("u2", xml2)],
                               "sitemap_url string, xml binary")
    rows = parse_sitemaps(df).collect()
    assert len(rows) == 2  # loc-less entry skipped
    by_kind = {r.kind: r for r in rows}
    u = by_kind["url"]
    assert (u.loc, u.lastmod_date, u.changefreq, u.priority) == \
        ("https://s/a", None, "weekly", None)
    s = by_kind["sitemap"]
    assert s.loc == "https://s/shard1.xml"
    assert str(s.lastmod_date) == "2025-02-01"


def test_plan_frontier_waves(spark):
    from fortissimo_spark.robots import parse_robots_txt, plan_frontier
    robots = spark.createDataFrame(
        [("h1.example", "User-agent: *\nDisallow: /blocked/\n")],
        "host string, body string")
    delays = spark.createDataFrame([("h1.example", 2.0)],
                                   "host string, crawl_delay_s double")
    cands = spark.createDataFrame(
        [("https://h1.example/a", 0.2), ("https://h1.example/b", 0.9),
         ("https://h1.example/blocked/x", 1.0),  # robots-dropped
         ("https://h1.example/c", None),         # null prio -> last
         ("https://h2.example/z", 0.5)],         # no delay -> default
        "url string, prio double")
    fr = {r.url: (r.wave, r.eta_s) for r in plan_frontier(
        cands, parse_robots_txt(robots), delays, "anybot",
        priority_col="prio", default_delay=1.0).collect()}
    assert "https://h1.example/blocked/x" not in fr
    assert fr["https://h1.example/b"] == (0, 0.0)
    assert fr["https://h1.example/a"] == (1, 2.0)
    assert fr["https://h1.example/c"] == (2, 4.0)
    assert fr["https://h2.example/z"] == (0, 0.0)


def test_anchor_text_index(spark):
    import contextlib
    import io
    from fortissimo_spark.graph import anchor_text_index
    links = spark.createDataFrame(
        [("https://h/x", "/t1", "  Buy NOW ", False),
         ("https://h/y", "/t1", "buy now", True),   # nofollow still counts
         ("https://h/z", "/t1", "cheap", False),
         ("https://h/z", "/t1", "apple", False),    # tie with cheap -> apple
         ("https://h/z", "/t2", "only", False),
         ("https://h/z", "javascript:void(0)", "x", False)],
        "url string, href string, anchor string, nofollow boolean")
    idx = anchor_text_index(links, top_k=2)
    rows = {(r.target, r.rank): (r.anchor_text, r.n) for r in idx.collect()}
    assert rows[("https://h/t1", 1)] == ("buy now", 2)
    assert rows[("https://h/t1", 2)] == ("apple", 1)  # tie-break on text
    assert rows[("https://h/t2", 1)] == ("only", 1)
    assert len(rows) == 3  # top_k=2 caps t1; javascript target dropped
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()  # literal top-k pre-prune


def test_host_graph_and_weighted_pagerank(spark):
    from fortissimo_spark.graph import host_graph, pagerank
    edges = spark.createDataFrame(
        [("https://a.ex/1", "https://b.ex/x"),
         ("https://a.ex/2", "https://b.ex/y"),
         ("https://a.ex/3", "https://c.ex/z"),
         ("https://a.ex/4", "https://a.ex/5"),   # intra-host: dropped
         ("https://b.ex/x", "https://c.ex/q"),
         ("not a url", "https://c.ex/q")],       # unparseable: dropped
        "src_url string, dst_url string")
    hg = {(r.src_host, r.dst_host): r.weight
          for r in host_graph(edges).collect()}
    assert hg == {("a.ex", "b.ex"): 2, ("a.ex", "c.ex"): 1,
                  ("b.ex", "c.ex"): 1}
    nodes = spark.createDataFrame([("a.ex",), ("b.ex",), ("c.ex",)],
                                  "id string")
    hgdf = host_graph(edges)
    pr = {r.id: r.pr for r in pagerank(
        hgdf, nodes, num_iters=1, damping=0.85, src_col="src_host",
        dst_col="dst_host", weight_col="weight").collect()}
    # hand iteration, n=3, base=0.05, r0=1/3:
    # a: no inflow -> 0.05
    # b: a contributes (1/3)*(2/3) -> 0.05 + 0.85*2/9 = 0.238888888889
    # c: a (1/3)*(1/3) + b (1/3)*1 -> 0.05 + 0.85*(1/9+1/3) = 0.427777777778
    import math
    assert math.isclose(pr["a.ex"], 0.05, abs_tol=1e-9)
    assert math.isclose(pr["b.ex"], 0.238888888889, abs_tol=1e-9)
    assert math.isclose(pr["c.ex"], 0.427777777778, abs_tol=1e-9)


def test_structured_data_jsonld(spark):
    """JSON-LD extraction: plain object, @graph, top-level array,
    list-valued @type, malformed JSON, empty-entity block, and
    non-ld scripts ignored."""
    from fortissimo_spark.kernel import structured_data
    pages = spark.createDataFrame([
        ("u1", bytearray(
            b'<script type="application/ld+json">'
            b'{"@type":"Article","name":"A1"}</script>'
            b'<script>var x=1;</script>')),
        ("u2", bytearray(
            b'<script type="application/ld+json">{"@graph":['
            b'{"@type":["Organization","Thing"],"name":"Org"},'
            b'{"@type":"WebSite"}]}</script>')),
        ("u3", bytearray(
            b'<script type="application/ld+json">'
            b'[{"@type":"Person","name":"P"},{"@type":"Event"}]</script>')),
        ("u4", bytearray(b'<script type="application/ld+json">{broken'
                         b'</script>')),
        ("u5", bytearray(b'<script type="application/ld+json">42'
                         b'</script>')),
    ], "url string, html binary")
    rows = sorted([(r.url, r.block_idx, r.ld_type, r.ld_name, r.parse_ok)
                   for r in structured_data(pages).collect()])
    assert rows == sorted([
        ("u1", 0, "Article", "A1", True),
        ("u2", 0, "Organization", "Org", True),
        ("u2", 0, "WebSite", None, True),
        ("u3", 0, "Person", "P", True),
        ("u3", 0, "Event", None, True),
        ("u4", 0, None, None, False),
        ("u5", 0, None, None, True),   # parsed, no entity
    ])


def test_parse_feeds_rss_atom(spark):
    """RSS 2.0 + Atom: link-as-sibling-text (void <link> in the HTML
    grammar), href attr for Atom, namespace prefixes tolerated,
    malformed dates -> NULL epoch, non-feed payload -> no rows."""
    from fortissimo_spark.robots import parse_feeds
    rss = (b'<?xml version="1.0"?><rss version="2.0"><channel>'
           b'<item><title>R1</title><link>https://e.x/1</link>'
           b'<pubDate>Sat, 01 Mar 2025 00:00:00 +0000</pubDate></item>'
           b'<item><title>R2</title><link>https://e.x/2</link>'
           b'<pubDate>not a date</pubDate></item>'
           b'</channel></rss>')
    atom = (b'<feed xmlns="http://www.w3.org/2005/Atom">'
            b'<entry><title>A1</title><link href="https://e.x/3"/>'
            b'<updated>2025-03-01T00:00:00Z</updated></entry>'
            b'<atom:entry xmlns:atom="http://www.w3.org/2005/Atom">'
            b'<atom:title>A2</atom:title>'
            b'<atom:link href="https://e.x/4"/>'
            b'<atom:updated>bogus</atom:updated></atom:entry>'
            b'</feed>')
    feeds = spark.createDataFrame(
        [("f1", bytearray(rss)), ("f2", bytearray(atom)),
         ("f3", bytearray(b"<html><body>not a feed</body></html>"))],
        "feed_url string, xml binary")
    rows = sorted([(r.feed_url, r.feed_kind, r.title, r.link, r.pub_epoch)
                   for r in parse_feeds(feeds).collect()])
    assert rows == [
        ("f1", "rss", "R1", "https://e.x/1", 1740787200),
        ("f1", "rss", "R2", "https://e.x/2", None),
        ("f2", "atom", "A1", "https://e.x/3", 1740787200),
        ("f2", "atom", "A2", "https://e.x/4", None),
    ]


def test_dedup_canonical_rel_canonical(spark):
    """rel=canonical collapse over analyzed pages: relative hrefs
    resolve against the page url, latest warc_ts wins the group, and
    pages without a canonical keep their own url as the key."""
    import datetime as dt
    from fortissimo_spark.kernel import page_analysis
    from fortissimo_spark.pipeline import dedup_canonical
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    mk = lambda canon, body: bytearray(
        (('<link rel="canonical" href="%s">' % canon if canon else '')
         + "<p>%s</p>" % body).encode())
    pages = spark.createDataFrame([
        ("https://h.x/a?page=2", t0, mk("/a", "v1")),
        ("https://h.x/a", t0 + dt.timedelta(hours=1), mk(None, "v2")),
        ("https://h.x/amp/a", t0 + dt.timedelta(hours=2),
         mk("https://h.x/a", "v3")),
        ("https://h.x/b", t0, mk(None, "b")),
    ], "url string, warc_ts timestamp, html binary")
    out = dedup_canonical(page_analysis(pages)).collect()
    got = {r.canonical_key: (r.url, r.text) for r in out}
    assert set(got) == {"https://h.x/a", "https://h.x/b"}
    # latest capture (the amp variant, t0+2h) wins the /a group
    assert got["https://h.x/a"] == ("https://h.x/amp/a", "v3")
    assert got["https://h.x/b"] == ("https://h.x/b", "b")


def test_harmonic_centrality_hand_graph(spark):
    """Path graph + shortcut: hand-computed truncated harmonic values,
    min-dist wins over longer walks, radius truncation, isolated node
    zero, duplicate edges collapse."""
    from fortissimo_spark.graph import harmonic_centrality
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
         ("a", "c"),            # shortcut: d(a,c)=1 not 2
         ("a", "b")],           # duplicate edge collapses
        "src string, dst string")
    nodes = spark.createDataFrame(
        [(x,) for x in "abcdef"], "id string")
    out = {r.id: (r.reached, r.harmonic)
           for r in harmonic_centrality(edges, nodes, radius=3).collect()}
    import math
    # d: b<-a=1; c<-a=1(shortcut),<-b=1; d<-c=1,<-b=2,<-a=2(via shortcut)
    # e<-d=1,<-c=2,<-b=3,<-a=3(via shortcut c,d)
    assert out["a"] == (0, 0.0)
    assert out["b"] == (1, 1.0)
    assert out["c"][0] == 2 and math.isclose(out["c"][1], 2.0)
    assert out["d"][0] == 3 and math.isclose(out["d"][1], 1 + 0.5 + 0.5)
    assert out["e"][0] == 4 and math.isclose(
        out["e"][1], 1 + 0.5 + 1 / 3 + 1 / 3, abs_tol=1e-9)
    assert out["f"] == (0, 0.0)   # isolated
    # radius=1: only direct predecessors count
    out1 = {r.id: (r.reached, r.harmonic)
            for r in harmonic_centrality(edges, nodes, radius=1).collect()}
    assert out1["e"] == (1, 1.0) and out1["c"] == (2, 2.0)


def test_discover_feeds(spark):
    """Feed autodiscovery: token-based rel match, case-insensitive
    type, title capture; stylesheets / href-less / wrong-mime links
    ignored."""
    from fortissimo_spark.robots import discover_feeds
    html = (b'<html><head>'
            b'<link rel="alternate" type="application/rss+xml"'
            b' title="Main" href="/feed.xml">'
            b'<link rel="ALTERNATE stylesheet" type="Application/ATOM+xml"'
            b' href="atom.xml">'
            b'<link rel="alternate" type="application/rss+xml">'  # no href
            b'<link rel="stylesheet" type="text/css" href="/s.css">'
            b'<link rel="alternate" type="text/html" href="/mobile">'
            b'</head><body></body></html>')
    pages = spark.createDataFrame(
        [("https://h.x/page", bytearray(html)),
         ("https://h.x/empty", bytearray(b"<p>no feeds</p>"))],
        "url string, html binary")
    rows = sorted([(r.url, r.feed_href, r.feed_kind, r.feed_title)
                   for r in discover_feeds(pages).collect()])
    assert rows == [
        ("https://h.x/page", "/feed.xml", "rss", "Main"),
        ("https://h.x/page", "atom.xml", "atom", None),
    ]


def test_hyperball_vs_exact_harmonic(spark):
    """HyperBall estimates track the exact bounded-radius harmonic
    centrality within HLL error bounds on a 150-node graph, and the
    output is bit-identical under repartitioning (the integer-sum /
    fixed-expression determinism claim)."""
    from fortissimo_spark.graph import harmonic_centrality, hyperball_harmonic
    n = 150
    rows = []
    for i in range(n):           # two deterministic out-edges per node
        rows.append((f"n{i:03d}", f"n{(i * 7 + 3) % n:03d}"))
        rows.append((f"n{i:03d}", f"n{(i * 13 + 11) % n:03d}"))
    edges = spark.createDataFrame(rows, "src string, dst string")
    nodes = spark.createDataFrame([(f"n{i:03d}",) for i in range(n)],
                                  "id string")
    exact = {r.id: r.harmonic
             for r in harmonic_centrality(edges, nodes, radius=3).collect()}
    hb = {r.id: r.hb_harmonic
          for r in hyperball_harmonic(edges, nodes, radius=3,
                                      log2m=6).collect()}
    assert set(hb) == set(exact)
    # per-node within generous HLL bounds (sigma ~ 13% at m=64);
    # corpus-level relative error much tighter
    rel = [abs(hb[k] - exact[k]) / exact[k] for k in exact if exact[k] > 0]
    assert max(rel) < 0.5, max(rel)
    assert sum(rel) / len(rel) < 0.15, sum(rel) / len(rel)
    # determinism: a different partitioning yields bit-identical output
    hb2 = {r.id: r.hb_harmonic
           for r in hyperball_harmonic(edges.repartition(7),
                                       nodes.repartition(3),
                                       radius=3, log2m=6).collect()}
    assert hb2 == hb


def test_resolve_redirects_pointer_doubling(spark):
    """Hand-traced chains: exact hop counts for 1/2/3/6-hop chains,
    2-cycle and self-loop never resolve, over-cap chain unresolved,
    and the round count stays logarithmic (max_hops=8 -> 3 rounds)."""
    from fortissimo_spark.urls import resolve_redirects
    rows = [("a", "b"), ("b", "c"), ("c", "d"),          # 3-chain -> d
            ("p", "q"),                                   # 1 hop
            ("x1", "x2"), ("x2", "x3"), ("x3", "x4"),    # 6-chain
            ("x4", "x5"), ("x5", "x6"), ("x6", "end"),
            ("u", "v"), ("v", "u"),                       # 2-cycle
            ("s", "s")]                                   # self-loop
    # 9-chain: exceeds max_hops=8
    rows += [(f"y{i}", f"y{i+1}") for i in range(9)]
    redirects = spark.createDataFrame(rows, "src string, dst string")
    out = {r.url: (r.final_url, r.hops, r.resolved)
           for r in resolve_redirects(redirects, max_hops=8).collect()}
    assert out["a"] == ("d", 3, True)
    assert out["b"] == ("d", 2, True)
    assert out["c"] == ("d", 1, True)
    assert out["p"] == ("q", 1, True)
    assert out["x1"] == ("end", 6, True)
    assert out["u"][2] is False and out["v"][2] is False
    assert out["s"][2] is False
    assert out["y0"][2] is False          # needs 9 > 8 hops
    assert out["y1"] == ("y9", 8, True)   # exactly at the cap


def test_streaming_index_segments_compact_to_batch_index(
        spark, tmp_path_factory):
    """Log-structured index maintenance: each micro-batch lands an
    immutable posting segment; compacting the accumulated segments
    yields EXACTLY the one-shot inverted_index over the same corpus
    (same code path by construction — the test pins the contract)."""
    import datetime
    import time as _time

    from fortissimo_spark.streaming import streaming_index
    from fortissimo_spark.textstats import index_from_segments, inverted_index

    base = tmp_path_factory.mktemp("stream_index")
    in_dir, seg_dir, ckpt = (str(base / d) for d in ("in", "seg", "ckpt"))
    os.makedirs(in_dir)
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    drops = {
        "d1": [(1, "en", "a b a c", t0), (2, "en", "b b d", t0)],
        "d2": [(3, "en", "a", t0), (4, "en", "c a c", t0)],
    }
    schema = "doc_id long, lang string, text string, crawl_ts timestamp"

    def write_drop(name):
        spark.createDataFrame(drops[name], schema).coalesce(1) \
            .write.mode("overwrite").parquet(os.path.join(in_dir, name))
        _time.sleep(1.1)

    write_drop("d1")
    q = streaming_index(spark, in_dir + "/*", seg_dir, ckpt)
    try:
        q.processAllAvailable()
        write_drop("d2")
        q.processAllAvailable()
    finally:
        q.stop()
    seg = spark.read.parquet(seg_dir + "/batch_id=*")
    # incremental evidence: the corpus arrived as >= 2 immutable segments
    n_batches = len(spark.read.option("basePath", seg_dir)
                    .parquet(seg_dir + "/batch_id=*")
                    .select("batch_id").distinct().collect())
    assert n_batches >= 2
    compacted = {tuple(r) for r in
                 index_from_segments(seg, max_postings=2).collect()}
    all_docs = spark.createDataFrame(drops["d1"] + drops["d2"], schema)
    batch = {tuple(r) for r in
             inverted_index(all_docs, max_postings=2).collect()}
    assert compacted == batch and len(batch) > 0


def test_streaming_frontier_discovers_incrementally(spark,
                                                    tmp_path_factory):
    """Streaming discovery: candidates emit ONCE per watermark horizon
    across micro-batches, known urls never emit, nofollow links are
    excluded, and the union of batches equals the batch-computed
    frontier on the same input."""
    import datetime
    import time as _time

    from fortissimo_spark.streaming import streaming_frontier

    base = tmp_path_factory.mktemp("stream_frontier")
    in_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def page(url, links, minute):
        body = "".join(
            f'<a href="{h}"{" rel=nofollow" if nf else ""}>x</a>'
            for h, nf in links)
        return (url, t0 + datetime.timedelta(minutes=minute),
                bytearray(body.encode()), None, "en")

    drops = {
        "d1": [page("https://h.x/a", [("/new1", False), ("/new2", False),
                                      ("/known", False),
                                      ("/secret", True)], 0),
               page("https://h.x/b", [("/new1", False)], 1)],
        # d2 re-discovers /new1 and /new2 within the horizon: no re-emit
        "d2": [page("https://h.x/c", [("/new1", False), ("/new3", False),
                                      ("https://h.x/new2", False)], 2)],
    }

    def write_drop(name):
        spark.createDataFrame(drops[name], PAGES_SCHEMA_TEST).coalesce(1) \
            .write.mode("overwrite").parquet(os.path.join(in_dir, name))
        _time.sleep(1.1)

    from fortissimo_spark.schema import PAGES_SCHEMA as PAGES_SCHEMA_TEST
    known = spark.createDataFrame([("https://h.x/known",)], "url string")
    write_drop("d1")
    q = streaming_frontier(spark, in_dir + "/*", out_dir, ckpt,
                           known_urls=known, watermark="1 hour")
    try:
        q.processAllAvailable()
        write_drop("d2")
        q.processAllAvailable()
        rows = spark.read.parquet(out_dir + "/batch_id=*").collect()
        got = sorted(r.cand_url for r in rows)
        assert got == ["https://h.x/new1", "https://h.x/new2",
                       "https://h.x/new3"]
        # each candidate exactly once across ALL batches (state dedup)
        assert len(got) == len(set(got))
    finally:
        q.stop()
