"""Crawl correctness: the Spark BSP engine must reproduce the
single-threaded reference simulator exactly — crawl order, URL-seen set,
extracted image records — under the same seeds + politeness budgets
(BASELINE.json north_rule), and resume from a mid-crawl checkpoint must
yield byte-identical results.
"""

import numpy as np
import pytest

from scalpel_spark.crawl.simulator import simulate_crawl
from scalpel_spark.datagen.world import WorldParams, write_world

PARAMS = WorldParams(seed=42, n_hosts=6, n_pages=80, n_images=40)
MAX_ROUNDS = 40


@pytest.fixture(scope="module")
def world_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("world")
    write_world(str(d), PARAMS)
    return str(d)


@pytest.fixture(scope="module")
def sim_result(world_dir):
    import pyarrow.parquet as pq

    pages = {
        r["url"]: r for r in pq.read_table(f"{world_dir}/pages.parquet").to_pylist()
    }
    seeds = pq.read_table(f"{world_dir}/seeds.parquet").to_pylist()
    robots = {
        r["host"]: r for r in pq.read_table(f"{world_dir}/robots.parquet").to_pylist()
    }
    return simulate_crawl(pages, seeds, robots, max_rounds=MAX_ROUNDS)


def test_simulator_sanity(sim_result):
    assert len(sim_result.fetch_log) > 20
    seqs = [r.fetch_seq for r in sim_result.fetch_log]
    assert seqs == list(range(len(seqs)))
    # politeness: per (round, host) counts never exceed max budget range
    from collections import Counter

    per = Counter((r.round, r.host) for r in sim_result.fetch_log)
    assert max(per.values()) <= 7  # robots budgets are 2..7
    # disallowed pages never fetched
    for r in sim_result.fetch_log:
        assert "/private/" not in r.url


@pytest.fixture(scope="module")
def engine_result(spark, world_dir, tmp_path_factory):
    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_out"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=MAX_ROUNDS)
    summary = eng.run()
    return eng, summary


def _sim_log_tuples(sim):
    return [
        (r.fetch_seq, r.round, r.url, r.url_hash, r.host, r.parent_url, r.status, r.n_images)
        for r in sim.fetch_log
    ]


def _eng_log_tuples(eng):
    rows = eng.fetch_log_df().orderBy("fetch_seq").collect()
    return [
        (r.fetch_seq, r.round, r.url, r.url_hash, r.host, r.parent_url, r.status, r.n_images)
        for r in rows
    ]


def test_engine_matches_simulator_exactly(sim_result, engine_result):
    eng, summary = engine_result
    assert summary["total_fetched"] == len(sim_result.fetch_log)
    assert _eng_log_tuples(eng) == _sim_log_tuples(sim_result)


def test_seen_set_matches(sim_result, engine_result):
    eng, _ = engine_result
    eng_seen = {(r.url_hash, r.url) for r in eng.seen_df().collect()}
    sim_seen = {(h, u) for h, u in sim_result.seen.items()}
    assert eng_seen == sim_seen


def test_images_match(sim_result, engine_result):
    eng, _ = engine_result
    eng_imgs = sorted(
        (r.page_url, r.image_id, r.src, r.caption) for r in eng.images_df().collect()
    )
    sim_imgs = sorted(sim_result.images)
    assert eng_imgs == sim_imgs


def test_image_fidelity_vs_corpus(spark, world_dir, engine_result):
    """input_hint invariant: decoded pixels allclose / PSNR>=40dB and
    caption equality, per extracted row joined against the images table."""
    from scalpel_spark.datagen.images import decode_png, psnr
    from scalpel_spark.datagen.world import image_pixels, is_lossy

    from pyspark.sql import functions as F

    eng, _ = engine_result
    corpus = spark.read.parquet(f"{world_dir}/images.parquet")
    ext = (
        eng.images_df()
        .select("image_id", F.col("caption").alias("extracted_caption"))
        .distinct()
    )
    joined = ext.join(corpus.select("image_id", "caption", "bytes"), "image_id")
    rows = joined.collect()
    assert rows
    for r in rows:
        assert r.extracted_caption == r.caption
        i = int(r.image_id.split("-")[1])
        decoded = decode_png(bytes(r.bytes))
        truth = image_pixels(i, PARAMS.seed)
        if is_lossy(i, PARAMS):
            assert psnr(decoded, truth) >= 40.0
        else:
            assert np.array_equal(decoded, truth)


def test_salted_politeness_matches_simulator(
    spark, world_dir, sim_result, tmp_path_factory, monkeypatch
):
    """The production politeness path — the salted pre-phase ahead of
    the per-host window — reproduces the simulator. The test world is
    far below the salt-skip threshold, so salting is forced."""
    from scalpel_spark.crawl.engine import CrawlEngine

    monkeypatch.setattr(CrawlEngine, "_SALT_SKIP_PENDING", 0)
    out = str(tmp_path_factory.mktemp("crawl_salted"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=MAX_ROUNDS)
    summary = eng.run()
    assert summary["total_fetched"] == len(sim_result.fetch_log)
    assert _eng_log_tuples(eng) == _sim_log_tuples(sim_result)
    eng_seen = {(r.url_hash, r.url) for r in eng.seen_df().collect()}
    assert eng_seen == {(h, u) for h, u in sim_result.seen.items()}


def test_fetch_seq_is_contiguous_long_and_regime_independent(
    spark, world_dir, tmp_path_factory, monkeypatch
):
    """fetch_seq is a long, is contiguous from the offset in (host,
    rank) order even when the offset sits just below 2^31 (no int32
    wrap), and the salted and unsalted regimes assign identical
    (fetch_seq, url) rows — the salt prune is exact."""
    from pyspark.sql import types as T

    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_seq"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=3)
    eng.run()
    frontier = eng._pending_frontier(3)
    offset = 2**31 - 3

    def seq_rows():
        batch = eng._politeness_batch(frontier, offset, 1000)
        dtype = batch.schema["fetch_seq"].dataType
        rows = batch.select("host", "rank", "fetch_seq", "url").collect()
        batch.unpersist()
        assert dtype == T.LongType()
        rows.sort(key=lambda r: (r.host, r.rank))
        assert [r.fetch_seq for r in rows] == list(range(offset, offset + len(rows)))
        return sorted((r.fetch_seq, r.url) for r in rows)

    unsalted = seq_rows()
    monkeypatch.setattr(CrawlEngine, "_SALT_SKIP_PENDING", 0)
    salted = seq_rows()
    assert len(unsalted) > 2
    assert salted == unsalted


def test_partitioned_bloom_mode_matches(spark, world_dir, sim_result, tmp_path_factory):
    """bloom_mode='partitioned' (sharded parquet bloom probed via a
    co-grouped join, zero driver bloom traffic — the 10^10 path) must
    produce the identical crawl; compaction is forced every 2 rounds so
    the OR-merge + atomic-swap path is exercised."""
    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_part"))
    eng = CrawlEngine(
        spark, world_dir, out, max_rounds=MAX_ROUNDS,
        bloom_mode="partitioned", bloom_compact_every=2,
    )
    summary = eng.run()
    assert summary["total_fetched"] == len(sim_result.fetch_log)
    assert _eng_log_tuples(eng) == _sim_log_tuples(sim_result)
    eng_seen = {(r.url_hash, r.url) for r in eng.seen_df().collect()}
    assert eng_seen == {(h, u) for h, u in sim_result.seen.items()}


@pytest.fixture(scope="module")
def corpus_http_server(world_dir):
    """Local HTTP server serving the synthetic corpus: GET
    /fetch?url=<logical url> returns the page's stored status + html
    (utf-8), 404 for URLs outside the corpus — the real-network stand-in
    the http fetch tier is verified against."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    import pyarrow.parquet as pq

    pages = {
        r["url"]: r for r in pq.read_table(f"{world_dir}/pages.parquet").to_pylist()
    }

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            url = q.get("url", [""])[0]
            row = pages.get(url)
            if row is None:
                self.send_response(404)
                self.end_headers()
                return
            body = (row["html"] or "").encode("utf-8") if row["status"] == 200 else b""
            self.send_response(int(row["status"]))
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1], set(pages)
    srv.shutdown()


def test_http_fetch_mode_matches_simulator(
    spark, world_dir, sim_result, corpus_http_server, tmp_path_factory
):
    """The real-HTTP fetch tier (urllib pool inside mapInPandas, charset
    decode from live Content-Type headers) reproduces the simulator's
    crawl order and seen set against a local server serving the same
    corpus. Statuses match except URLs absent from the corpus, where the
    network reports 404 and the offline resolver reports 0 — both
    non-200, so crawl behavior is identical."""
    from urllib.parse import urlencode

    from scalpel_spark.crawl.engine import CrawlEngine
    from scalpel_spark.crawl.fetch import FetchConfig

    port, known_urls = corpus_http_server
    cfg = FetchConfig(
        url_rewrite=lambda u: f"http://127.0.0.1:{port}/fetch?" + urlencode({"url": u}),
        concurrency=8,
    )
    out = str(tmp_path_factory.mktemp("crawl_http"))
    eng = CrawlEngine(
        spark, world_dir, out, max_rounds=MAX_ROUNDS,
        fetch_mode="http", fetch_config=cfg,
    )
    summary = eng.run()
    assert summary["total_fetched"] == len(sim_result.fetch_log)

    def norm(rows, statuses_known):
        return [
            (r[0], r[1], r[2], r[3], r[4], r[5], r[6] if r[2] in statuses_known else -1, r[7])
            for r in rows
        ]

    assert norm(_eng_log_tuples(eng), known_urls) == norm(
        _sim_log_tuples(sim_result), known_urls
    )
    eng_seen = {(r.url_hash, r.url) for r in eng.seen_df().collect()}
    assert eng_seen == {(h, u) for h, u in sim_result.seen.items()}
    eng_imgs = sorted(
        (r.page_url, r.image_id, r.src, r.caption) for r in eng.images_df().collect()
    )
    assert eng_imgs == sorted(sim_result.images)


def test_resume_is_exact(spark, world_dir, sim_result, tmp_path_factory):
    """Run k rounds, stop, resume from the manifest — final fetch log and
    seen set byte-identical to the uninterrupted run."""
    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_resume"))
    eng1 = CrawlEngine(spark, world_dir, out, max_rounds=3)
    eng1.run()
    assert eng1.store.last_complete_round() == 2

    eng2 = CrawlEngine(spark, world_dir, out, max_rounds=MAX_ROUNDS)
    eng2.run(resume=True)
    assert _eng_log_tuples(eng2) == _sim_log_tuples(sim_result)
    eng_seen = {(r.url_hash, r.url) for r in eng2.seen_df().collect()}
    assert eng_seen == {(h, u) for h, u in sim_result.seen.items()}


def test_frontier_compaction_is_exact(spark, world_dir, sim_result, tmp_path_factory):
    """frontier_compact_every=2 forces the base+delta+tombstone view
    through several compaction cycles — crawl order and seen set must
    stay byte-identical, and frontier_base tables must actually appear
    in the manifest."""
    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_compact"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=MAX_ROUNDS, frontier_compact_every=2)
    summary = eng.run()
    assert summary["total_fetched"] == len(sim_result.fetch_log)
    assert _eng_log_tuples(eng) == _sim_log_tuples(sim_result)
    eng_seen = {(r.url_hash, r.url) for r in eng.seen_df().collect()}
    assert eng_seen == {(h, u) for h, u in sim_result.seen.items()}
    bases = [
        r["round"] for r in eng.store.read_manifest()["rounds"]
        if "frontier_base" in r["tables"]
    ]
    assert len(bases) >= 2


def test_seen_check_plan_never_shuffles_history(spark, world_dir, tmp_path_factory):
    """Scale gate (VERDICT r2 task 2): the per-round exact seen check
    must not move the crawl history through an Exchange. The physical
    plan of _exact_new must be two BroadcastHashJoins with zero shuffle
    exchanges — the history side is scan-only."""
    from pyspark.sql import functions as F

    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_plan"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=3)
    eng.run()
    maybe = eng.seen_df().limit(20).withColumn("priority", F.lit(1.0))
    plan = eng._exact_new(maybe, 3)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_pending_frontier_plan_broadcasts_tombstones(spark, world_dir, tmp_path_factory):
    """The pending-frontier view must anti-join the (small) fetch-log
    tombstones via broadcast — the base+delta side is never shuffled or
    rewritten (VERDICT r2 task 1)."""
    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_plan2"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=3)
    eng.run()
    plan = eng._pending_frontier(3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def _plan_path(node, pred):
    """JVM physical plan nodes from ``node`` down to the first node
    matching ``pred`` (depth first), or None."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    if pred(node):
        return [node]
    children = node.children()
    for i in range(children.size()):
        sub = _plan_path(children.apply(i), pred)
        if sub is not None:
            return [node] + sub
    return None


def test_fetch_batch_plan_rebalances_after_join(spark, world_dir, tmp_path_factory):
    """Corpus-mode fetch: the corpus scan feeds the broadcast resolver
    join with no Exchange in between (page bodies are never shuffled
    before the join), and a round-robin Exchange sits above the join,
    so extraction tasks get even shares of the fetched batch rather
    than the scan splits' host-skewed ones."""
    from scalpel_spark.crawl.engine import CrawlEngine

    out = str(tmp_path_factory.mktemp("crawl_plan3"))
    eng = CrawlEngine(spark, world_dir, out, max_rounds=3)
    eng.run()
    batch = eng._politeness_batch(eng._pending_frontier(3), 0, 1000)
    plan = eng._fetch_batch(batch)._jdf.queryExecution().executedPlan()
    batch.unpersist()

    def pages_body_scan(n):
        s = n.simpleString(1000)
        return n.nodeName().startswith("Scan") and "pages.parquet" in s and "html" in s

    path = _plan_path(plan, pages_body_scan)
    assert path is not None, plan.toString()
    names = [n.nodeName() for n in path]
    assert "BroadcastHashJoin" in names, plan.toString()
    j = len(names) - 1 - names[::-1].index("BroadcastHashJoin")
    assert any(
        n.nodeName() == "Exchange" and "RoundRobinPartitioning" in n.simpleString(1000)
        for n in path[:j]
    ), plan.toString()
    assert not any("Exchange" in nm or "QueryStage" in nm for nm in names[j + 1 :]), (
        plan.toString()
    )
