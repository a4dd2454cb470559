"""The Spark BSP crawl engine.

One round (SURVEY §3.4):

  pending frontier     (delta view: base ∪ link-deltas − fetched
                        tombstones; never rewritten, see below)
    → politeness batch (broadcast robots join; two-phase salted
                        window-rank per host — skew-bounded top-k)
    → fetch            (corpus mode: broadcast-inner resolver join —
                        the corpus is scanned in place, never shuffled;
                        the fetched batch is, once, round-robin;
                        http mode: GET inside the task, URL.hs:72-82)
    → extraction       (one Arrow-batched mapInPandas pass: images +
                        canonical outlinks per page, their murmur3
                        hashes in one numpy call per batch)
    → link dedup       (min-by-parent-fetch-seq groupBy — matches the
                        simulator's first-discoverer-wins rule)
    → robots filter    (broadcast join + JVM-side prefix check)
    → bloom prefilter  (definite-new rows BYPASS the seen check; only
                        maybe-seen rows are verified)
    → seen check       (exact decision on (url_hash, url): the seen
                        history is ONLY SCANNED — the small maybe-seen
                        set is broadcast INTO it (semi join), and the
                        matches are broadcast back out (anti join), so
                        no Exchange ever touches the crawl history;
                        bloom is prune-only, exactness never depends
                        on fpp)
    → two writes + manifest commit

Frontier storage is DELTA-ONLY (the Iceberg-style pattern):

  * ``frontier_delta`` (round r) = just that round's confirmed-new
    links. The union of all deltas IS the URL-seen table — one write
    serves both roles, and the write is O(new links), never
    O(frontier).
  * pending frontier for round r = base ∪ deltas since base, minus the
    fetch-log tombstones since base (a BROADCAST anti-join: tombstones
    are politeness-bounded ≤ compact_interval × Σ budgets — the big
    side is read+filtered in place, no shuffle, no rewrite).
  * every ``frontier_compact_every`` rounds the pending view is
    materialized once as ``frontier_base`` (amortized O(pending)/C per
    round), exactly like the bloom table's delta+compact cycle.

Fixed per-round cost budget (the thing that decides N→4N scaling at a
fixed round count): exactly TWO Spark actions per round in broadcast
bloom mode —

  1. write ``round_data``     (politeness + fetch + extraction; the
                               fetch log and the image records are
                               column/explode VIEWS over this table,
                               and its (url_hash,url) columns are the
                               frontier tombstones — no extra write)
  2. write ``frontier_delta`` (link dedup + robots + bloom + exact
                               seen check; O(new links) bytes). In
                               broadcast bloom mode the per-shard bloom
                               delta bitsets ride THIS action as an
                               ``_BloomBitsAccum`` accumulator built by
                               a pass-through Arrow stage after the
                               fan-in repartition — the driver ORs them
                               in after the commit, so the bloom update
                               costs zero extra jobs. Partitioned mode
                               pays a third action: a distributed
                               append of delta shard rows.

plus one O(pending) ``frontier_base`` write every C rounds. Action 2
re-derives its input from the round's DURABLE parquet (the files
written by the previous action), never from cached lineage — so a lost
cache partition can never recompute a non-deterministic fetch (http
mode) into a different answer: what was committed is what every later
stage sees (resume likewise rebuilds the bloom from the committed
delta files, never from the accumulator).

Row counts and per-round metrics come from ``Observation`` metrics
attached to the writes — the data is never re-read to count it.

Scale notes (10^10 frontier, 1000 executors):
* the full frontier is never collected *or rewritten*; every per-round
  structure is a DataFrame over immutable parquet deltas. Driver state
  = bloom shards (broadcast mode only) + scalar counters; in
  partitioned mode the bloom lives only as a sharded parquet table
  probed via a co-grouped join.
* per-round shuffles touch only politeness-bounded or per-round-link
  data: the politeness window (O(pending) — the priority queue), the
  fetched batch's round-robin spread across extraction tasks
  (O(batch)), link dedup (O(links/round)), bloom shard grouping
  (O(new/round)). The corpus, the seen history, and the frontier base
  move zero bytes.
* politeness ranking partitions by host; hot hosts are pre-pruned by a
  salted first-phase top-k so no partition ever sees more than
  ``n_salts × budget`` rows per host.
* global fetch_seq is one row_number over (host, rank) on the
  *politeness-bounded* batch (≤ Σ per-host budgets per round), not over
  the frontier. That single-partition window is bounded because it is
  never larger than what the round already broadcasts: corpus mode
  broadcasts the whole batch into the resolver join, and both modes
  broadcast its (url_hash, url) keys as the next rounds' tombstones
  (≤ C × Σ budgets rows).
* exact resume: state lives in per-round parquet + manifest
  (tableio.SnapshotStore); a torn round never commits. The broadcast
  bloom is rebuilt from the committed deltas on resume (one
  distributed job) — extra bits from a torn round are false positives
  only, which the exact seen check absorbs.
"""

from __future__ import annotations

import os
import time
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


class _BloomBitsAccum(AccumulatorParam):
    """Accumulator that ORs sparse ``{shard: bitset-bytes}`` dicts — the
    broadcast-mode bloom delta rides back on the frontier-delta write's
    task results instead of costing its own Spark job, and the payload
    per task is bounded by touched-shards × (m/8) bytes REGARDLESS of
    how many new URLs the round adds ("bytes moved = shard bytes, never
    keys", preserved from the pre-fusion dedicated collect). Task
    retries / speculation can double-add; the OR is idempotent, and
    bits from a failed (uncommitted) attempt are false-positive-only —
    absorbed by the exact seen check like any other bloom FP."""

    def zero(self, value):
        return {}

    def addInPlace(self, v1, v2):
        for s, bits in v2.items():
            if s in v1:
                v1[s] = (
                    np.frombuffer(v1[s], dtype=np.uint8)
                    | np.frombuffer(bits, dtype=np.uint8)
                ).tobytes()
            else:
                v1[s] = bits
        return v1

from .bloom import BloomShards, build_bits, contains_in_bits, shard_col, shard_of
from .hashing import murmur3_64_batch
from .logic import DEFAULT_BUDGET, PRIORITY_DECAY, extract_page
from .tableio import SnapshotStore
from .urlnorm import canonicalize_url, url_host

FRONTIER_SCHEMA = (
    "url string, url_hash long, host string, priority double, depth int, parent_url string"
)

_FRONTIER_COLS = ["url", "url_hash", "host", "priority", "depth", "parent_url"]
_BATCH_COLS = ["fetch_seq", "url", "url_hash", "host", "parent_url", "priority", "depth"]

_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("fetch_seq", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("n_images", T.IntegerType()),
        T.StructField(
            "imgs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("image_id", T.StringType()),
                        T.StructField("src", T.StringType()),
                        T.StructField("caption", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("url", T.StringType()),
                        T.StructField("url_hash", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)

_FETCH_COLS = ["fetch_seq", "round", "url", "url_hash", "host", "parent_url", "status", "n_images"]

#: round_data files = extraction rows + the round stamp
_ROUND_DATA_SCHEMA = T.StructType(
    _EXTRACT_SCHEMA.fields + [T.StructField("round", T.IntegerType())]
)


def _extract_batches(batches: Iterable[pd.DataFrame]):
    """mapInPandas kernel: fetched pages → extraction rows (one out-row
    per page; images/links as arrays so a single parse serves both).
    The batch's out-links are hashed in one ``murmur3_64_batch`` call."""
    for pdf in batches:
        out = {name: [] for name in _EXTRACT_SCHEMA.fieldNames()}
        page_links: list = []
        for row in pdf.itertuples(index=False):
            status = int(row.status) if pd.notna(row.status) else 0
            html = row.html if isinstance(row.html, str) else None
            imgs: list = []
            links: list = []
            if html is not None and status == 200:
                ext = extract_page(html, row.url)
                imgs = [
                    {"image_id": iid, "src": src, "caption": cap}
                    for iid, src, cap in ext.images
                ]
                links = ext.links
            page_links.append(links)
            out["fetch_seq"].append(row.fetch_seq)
            out["url"].append(row.url)
            out["url_hash"].append(row.url_hash)
            out["host"].append(row.host)
            out["parent_url"].append(row.parent_url)
            out["priority"].append(row.priority)
            out["depth"].append(row.depth)
            out["status"].append(status)
            out["n_images"].append(len(imgs))
            out["imgs"].append(imgs)
        hashes = iter(murmur3_64_batch([u for ls in page_links for u in ls]).tolist())
        out["links"] = [
            [{"url": u, "url_hash": next(hashes)} for u in ls] for ls in page_links
        ]
        yield pd.DataFrame(out)


class CrawlEngine:
    """``bloom_mode``:

    * ``"broadcast"`` (default, right for crawls whose bloom fits one
      executor): shards live on the driver, are broadcast for the probe,
      and each round's delta comes back as ``n_shards`` tiny rows.
    * ``"partitioned"`` (the 10^10 path, SURVEY §4.3): the bloom is ONLY
      a sharded parquet table; the probe is a co-grouped
      ``applyInPandas`` join on ``shard`` (no broadcast, no driver
      bytes), and each round appends delta shard rows (near-empty
      bitsets compress to ~nothing) with periodic OR-compaction.

    ``frontier_compact_every``: rounds between ``frontier_base``
    materializations. Between compactions the pending view carries one
    broadcast tombstone set of ≤ C × Σ budgets keys; raising C trades
    broadcast size for fewer O(pending) writes.
    """

    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        out_dir: str,
        max_rounds: int = 50,
        n_salts: int = 8,
        bloom_shards: int = 16,
        bloom_bits_per_shard: int = 1 << 20,
        bloom_k: int = 7,
        bloom_mode: str = "broadcast",
        bloom_compact_every: int = 16,
        frontier_compact_every: int = 8,
        fetch_mode: str = "corpus",
        fetch_config=None,
        budget_scale: int = 1,
    ):
        assert bloom_mode in ("broadcast", "partitioned")
        assert fetch_mode in ("corpus", "http")
        assert budget_scale >= 1
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.store = SnapshotStore(out_dir)
        self.max_rounds = max_rounds
        self.n_salts = n_salts
        self._bloom_cfg = (bloom_shards, bloom_bits_per_shard, bloom_k)
        self.bloom_mode = bloom_mode
        self.bloom_compact_every = bloom_compact_every
        self.frontier_compact_every = frontier_compact_every
        self.bloom = BloomShards(bloom_shards, bloom_bits_per_shard, bloom_k)
        self._bloom_bc = None  # current round's broadcast handle (broadcast mode)
        self._base_round = -1  # latest round with a frontier_base (−1 = seed delta)
        self.fetch_mode = fetch_mode
        # budget_scale > 1 = "fat rounds": multiply every per-host
        # politeness budget, trading round count for round size. An
        # operator knob (aggressiveness), not a correctness one — crawl
        # order stays deterministic for a given scale; parity vs the
        # reference simulator is defined at scale 1.
        self.budget_scale = int(budget_scale)
        if fetch_config is None:
            from .fetch import FetchConfig

            fetch_config = FetchConfig()
        self.fetch_config = fetch_config

        if bloom_mode == "partitioned":
            # crash recovery for _bloom_compact's two-rename swap: a crash
            # between the renames leaves only `<table>.old`; restore it so
            # resume sees a bloom (stale bits are FP-only, absorbed by the
            # exact seen check)
            old = self._bloom_table + ".old"
            if not os.path.exists(self._bloom_table) and os.path.exists(old):
                os.rename(old, self._bloom_table)

        # corpus mode resolves URLs against the pages table (the offline
        # stand-in for HTTP GET); http mode GETs them for real inside the
        # fetch task, so no pages table is needed
        if fetch_mode == "corpus":
            self.pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
        else:
            self.pages = None
        robots = spark.read.parquet(os.path.join(corpus_dir, "robots.parquet"))
        # persisted: every round builds TWO broadcasts off this frame
        # (budget join in the politeness batch, disallow join in the link
        # filter) — caching the tiny host table means those per-round
        # broadcast builds read memory, not parquet
        self.robots = robots.select(
            "host",
            F.col("max_fetches_per_round").alias("budget"),
            F.col("disallow_prefixes").alias("disallow"),
        ).persist()
        # fill the robots cache at set-up, not in the first round
        self.robots.count()

    # ------------------------------------------------------------------

    def _seed_frontier(self) -> DataFrame:
        """Distributed seed prep: canonicalize+hash in Arrow batches, then
        dedupe by exact URL keeping the lowest priority-order entry (the
        simulator's iteration order over url-sorted seeds). Each batch's
        canonical URLs are hashed in one ``murmur3_64_batch`` call."""
        seeds = self.spark.read.parquet(os.path.join(self.corpus_dir, "seeds.parquet"))

        def canon(batches):
            for pdf in batches:
                urls, hosts, prios = [], [], []
                for r in pdf.itertuples(index=False):
                    c = canonicalize_url(r.url)
                    if c is None:
                        continue
                    urls.append(c)
                    hosts.append(url_host(c) or "")
                    prios.append(float(r.priority))
                yield pd.DataFrame(
                    {
                        "url": urls,
                        "url_hash": murmur3_64_batch(urls),
                        "host": hosts,
                        "priority": prios,
                    }
                )

        canonical = seeds.repartition(self.spark.sparkContext.defaultParallelism).mapInPandas(
            canon, "url string, url_hash long, host string, priority double"
        )
        df = (
            canonical.groupBy("url")
            .agg(
                F.min("url_hash").alias("url_hash"),
                F.min(F.struct("url", "priority", "host")).alias("s"),
            )
            .select(
                "url",
                "url_hash",
                F.col("s.host").alias("host"),
                F.col("s.priority").alias("priority"),
                F.lit(0).alias("depth"),
                F.lit("").alias("parent_url"),
            )
        )
        # robots filter on seeds, same rule as links
        return self._filter_disallowed(df)

    def _filter_disallowed(self, df: DataFrame) -> DataFrame:
        path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
        joined = df.join(F.broadcast(self.robots.select("host", "disallow")), "host", "left")
        blocked = F.when(
            F.col("disallow").isNotNull(),
            F.exists("disallow", lambda p: F.startswith(path, p)),
        ).otherwise(F.lit(False))
        return joined.where(~blocked).drop("disallow")

    # --- bloom ---------------------------------------------------------

    @property
    def _bloom_table(self) -> str:
        return os.path.join(self.store.root, "bloom_table")

    def _bloom_maybe_seen(self, df: DataFrame, hash_col: str) -> DataFrame:
        """Adds boolean ``maybe_seen``.

        Broadcast mode sends the driver shards to every task; partitioned
        mode co-groups rows with their shard's bitset rows on ``shard`` —
        bytes moved per task = one shard, independent of crawl size."""
        names = df.schema.fieldNames()
        schema = T.StructType(
            df.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
        )
        if self.bloom_mode == "broadcast":
            from pyspark.sql.functions import pandas_udf

            bc = self.spark.sparkContext.broadcast(self.bloom.to_rows())
            self._bloom_bc = bc  # destroyed after the round's actions finish

            # scalar pandas UDF on the hash column only: Arrow moves one
            # int64 column each way instead of round-tripping whole link
            # rows (url/parent/host strings) through the Python worker
            state: dict = {}

            @pandas_udf(T.BooleanType())
            def probe(hashes: pd.Series) -> pd.Series:
                bf = state.get("bf")
                if bf is None:
                    bf = state["bf"] = BloomShards.from_rows(bc.value)
                return pd.Series(bf.contains_many(hashes.to_numpy(dtype=np.int64)))

            return df.withColumn("maybe_seen", probe(F.col(hash_col)))

        # partitioned: cogroup(link rows, bloom delta rows) on shard
        n_shards, m, k = self._bloom_cfg
        bloom_rows = self.spark.read.schema(
            "shard int, m int, k int, bits binary"
        ).parquet(self._bloom_table)
        left = df.withColumn("__shard", shard_col(hash_col, n_shards))
        out_schema = T.StructType(
            [T.StructField("__shard", T.IntegerType())] + list(schema.fields)
        )

        def probe_group(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            if lpdf.empty:
                return pd.DataFrame(columns=["__shard"] + names + ["maybe_seen"])
            bits = np.zeros(m // 8, dtype=np.uint8)
            for blob in rpdf["bits"]:
                bits |= np.frombuffer(blob, dtype=np.uint8)
            hashes = lpdf[hash_col].to_numpy(dtype=np.int64)
            out = lpdf.copy()
            out["maybe_seen"] = contains_in_bits(bits, hashes, m, k)
            return out[["__shard"] + names + ["maybe_seen"]]

        probed = (
            left.groupBy("__shard")
            .cogroup(bloom_rows.groupBy(F.col("shard").cast("int").alias("__shard")))
            .applyInPandas(probe_group, out_schema)
        )
        return probed.drop("__shard")

    def _bloom_release(self) -> None:
        """Drop the previous round's bloom broadcast from executors and
        driver — without this, broadcast-mode shard bytes accumulate for
        the life of the crawl (one full bloom copy per round)."""
        if self._bloom_bc is not None:
            self._bloom_bc.destroy()
            self._bloom_bc = None

    def _bloom_delta(self, df_hashes: DataFrame, hash_col: str) -> DataFrame:
        """Distributed per-shard delta bitset build (grouped Arrow UDF)."""
        n_shards, m, k = self._bloom_cfg

        def build(key, pdf):
            bits = build_bits(pdf[hash_col].to_numpy(dtype=np.int64), m, k)
            return pd.DataFrame(
                [{"shard": int(key[0]), "m": m, "k": k, "bits": bits.tobytes()}]
            )

        return (
            df_hashes.select(F.col(hash_col), shard_col(hash_col, n_shards).alias("shard"))
            .groupBy("shard")
            .applyInPandas(build, "shard int, m int, k int, bits binary")
        )

    def _bloom_update(self, new_hashes: DataFrame, hash_col: str) -> None:
        """Fold this round's new hashes into the seen-bloom.

        Broadcast mode: collect ``n_shards`` delta rows, OR into the
        driver copy (bytes moved = shard bytes, never keys). Partitioned
        mode: append the delta rows to the bloom table — a fully
        distributed write, zero driver traffic."""
        delta = self._bloom_delta(new_hashes, hash_col)
        if self.bloom_mode == "broadcast":
            for row in delta.collect():
                self.bloom.bits[row["shard"]] |= np.frombuffer(row["bits"], dtype=np.uint8)
        else:
            delta.write.mode("append").parquet(self._bloom_table)

    def _bloom_compact(self) -> None:
        """OR-merge the partitioned bloom table back to one row per shard.
        The swap is two renames; a crash between them is healed by the
        ``.old`` restore in ``__init__`` (stale bits are FP-only)."""
        if self.bloom_mode != "partitioned":
            return
        _, m, k = self._bloom_cfg

        def merge(key, pdf):
            bits = np.zeros(m // 8, dtype=np.uint8)
            for blob in pdf["bits"]:
                bits |= np.frombuffer(blob, dtype=np.uint8)
            return pd.DataFrame(
                [{"shard": int(key[0]), "m": m, "k": k, "bits": bits.tobytes()}]
            )

        tmp = self._bloom_table + ".compact"
        (
            self.spark.read.schema("shard int, m int, k int, bits binary")
            .parquet(self._bloom_table)
            .groupBy("shard")
            .applyInPandas(merge, "shard int, m int, k int, bits binary")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        import shutil

        old = self._bloom_table + ".old"
        os.rename(self._bloom_table, old)
        os.rename(tmp, self._bloom_table)
        shutil.rmtree(old, ignore_errors=True)

    def _bloom_rebuild(self, upto_round: int) -> None:
        """Resume path (broadcast mode): one distributed job over the
        committed frontier deltas rebuilds the driver shards exactly."""
        self.bloom = BloomShards(*self._bloom_cfg)
        seen = self._seen_union(upto_round)
        if seen is None:
            return
        delta = self._bloom_delta(seen.select("url_hash"), "url_hash")
        for row in delta.collect():
            self.bloom.bits[row["shard"]] |= np.frombuffer(row["bits"], dtype=np.uint8)

    # --- frontier/seen delta views --------------------------------------

    def _delta_paths(self, lo: int, hi: int) -> list[str]:
        """``frontier_delta`` paths for committed rounds lo..hi inclusive
        (every committed round has one — empty rounds write an empty
        parquet with the frontier schema)."""
        return [self.store.table_path(r, "frontier_delta") for r in range(lo, hi + 1)]

    def _read_frontier(self, *paths: str) -> DataFrame:
        """Frontier delta/base reader with the schema pinned: the files
        are engine-written with a known schema, and schema inference
        costs one eager driver job (footer read) PER read call — a
        per-round tax on the pending/seen views, which re-read every
        committed delta each round."""
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(*paths)

    def _read_round_data(self, *paths: str) -> DataFrame:
        """round_data reader with the schema pinned (same rationale)."""
        return self.spark.read.schema(_ROUND_DATA_SCHEMA).parquet(*paths)

    def _seen_union(self, upto_round: int) -> DataFrame | None:
        """URL-seen rows = every frontier delta committed before
        ``upto_round`` (the seed delta at round −1 included). Column
        pruning keeps this a 2-column scan of the delta files."""
        paths = self._delta_paths(-1, upto_round - 1)
        if not paths:
            return None
        return self._read_frontier(*paths).select("url_hash", "url")

    def _pending_frontier(self, rnd: int) -> DataFrame:
        """Pending rows entering round ``rnd``: the latest base snapshot,
        plus deltas since it, minus the fetch-log tombstones since it.

        The tombstone side is politeness-bounded (≤ C × Σ budgets rows),
        so the anti-join BROADCASTS it — the base+delta side is scanned
        and filtered in place, never shuffled, never rewritten."""
        b = self._base_round
        base = (
            self.store.table_path(b, "frontier_base")
            if b >= 0
            else self.store.table_path(-1, "frontier_delta")
        )
        paths = [base] + self._delta_paths(b + 1, rnd - 1)
        df = self._read_frontier(*paths).select(*_FRONTIER_COLS)
        tomb_rounds = [
            r for r in range(b + 1, rnd) if os.path.exists(self.store.table_path(r, "round_data"))
        ]
        if tomb_rounds:
            fetched = self._read_round_data(
                *[self.store.table_path(r, "round_data") for r in tomb_rounds]
            ).select("url_hash", "url")
            df = df.join(F.broadcast(fetched), ["url_hash", "url"], "left_anti")
        return df

    def _exact_new(self, maybe: DataFrame, rnd: int) -> DataFrame:
        """Exact seen check with the crawl history scanned IN PLACE: the
        maybe-seen set (bloom-positive links, per-round bounded) is
        broadcast into a semi join against the delta files, and the
        confirmed duplicates (≤ |maybe|) are broadcast back for the anti
        join — the seen side never crosses an Exchange, so per-round
        cost follows |maybe|, not |crawl history|."""
        seen = self._seen_union(rnd)
        # semi join on url_hash ONLY: the broadcast is 8 bytes/row
        # instead of full URLs (driver build time is a serial per-round
        # cost). Hash collisions just add rows to dup_keys; exactness
        # comes from the final anti join on the full (url_hash, url) key
        dup_keys = seen.join(F.broadcast(maybe.select("url_hash")), "url_hash", "left_semi")
        return maybe.join(F.broadcast(dup_keys), ["url_hash", "url"], "left_anti")

    def _compact_frontier(self, rnd: int) -> tuple[str, int]:
        """Materialize the pending view once as ``frontier_base`` —
        the amortized O(pending)/C cost that keeps the per-round
        tombstone broadcast bounded."""
        pend = self._pending_frontier(rnd + 1)
        obs = Observation()
        path = self.store.table_path(rnd, "frontier_base")
        pend.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
        self._base_round = rnd
        return path, int(obs.get["rows"])

    # ------------------------------------------------------------------

    #: pending-frontier size below which the salted pre-phase is skipped:
    #: the salt window exists to bound a HOT host's partition to
    #: n_salts × budget rows, but when the WHOLE pending set fits one
    #: sort task comfortably (narrow rows; 200k ≈ 20 MB) the worst-case
    #: host partition is already bounded by it, and the pre-phase only
    #: adds an Exchange + Window per round. The prune is exact either
    #: way (any host-top-budget row is in its salt's top-budget), so
    #: ranked output is identical — this is a plan choice, not a
    #: semantics choice. Production pendings (≫ this) always salt.
    _SALT_SKIP_PENDING = 200_000

    def _politeness_batch(
        self, frontier: DataFrame, seq_offset: int, n_pending: int | None = None
    ) -> DataFrame:
        """Salted two-phase per-host top-k + global fetch_seq.

        fetch_seq = seq_offset + position in (host, within-host rank)
        order: one row_number over the politeness-bounded batch, which is
        never larger than what the round already broadcasts (see the
        module docstring). Returns the batch persisted, because
        ``_fetch_batch`` reads it three times; the caller unpersists it
        after the ``round_data`` write."""
        cand = frontier.join(
            F.broadcast(self.robots.select("host", "budget")), "host", "left"
        ).withColumn(
            "budget",
            F.coalesce("budget", F.lit(DEFAULT_BUDGET)) * F.lit(self.budget_scale),
        )
        order = [F.desc("priority"), F.asc("url_hash"), F.asc("url")]
        salted = n_pending is None or n_pending > self._SALT_SKIP_PENDING
        if salted:
            w1 = Window.partitionBy("host", "salt").orderBy(*order)
            pre = (
                cand.withColumn("salt", F.pmod(F.col("url_hash"), F.lit(self.n_salts)))
                .withColumn("r1", F.row_number().over(w1))
                .where(F.col("r1") <= F.col("budget"))
            )
        else:
            pre = cand
        w2 = Window.partitionBy("host").orderBy(*order)
        ranked = (
            pre.withColumn("rank", F.row_number().over(w2) - 1)
            .where(F.col("rank") < F.col("budget"))
            .drop(*(["salt", "r1", "budget"] if salted else ["budget"]))
        )
        # row_number is IntegerType: promote BEFORE adding the offset, or
        # a crawl past 2^31 total fetches would wrap
        w_seq = Window.orderBy("host", "rank")
        return ranked.withColumn(
            "fetch_seq",
            F.row_number().over(w_seq).cast("long") - 1 + F.lit(seq_offset),
        ).persist()

    def _fetch_batch(self, batch: DataFrame):
        """Politeness batch → (…, status, html) rows, partitioned for the
        Python extraction stage.

        Both modes spread the batch round-robin over one task per slot:
        equal row counts make one even wave, and every extra Python task
        costs a fixed ~0.2–0.3 s (worker hand-off, measured on a 4-core
        host) that more, smaller waves would pay for nothing.

        Corpus mode is the offline stand-in for HTTP GET: a broadcast
        INNER join (pages ⋈ bc(batch)) scans the fat corpus in place —
        broadcast-right is unsupported for right-outer joins, so an
        outer join here would silently sort-merge-shuffle every page
        body each round. Batch URLs absent from the corpus (dangling
        links — the simulator reports status 0) are recovered with an
        inverted probe that touches only the corpus's ``url`` COLUMN
        (parquet column pruning: no html bytes). The corpus is never
        shuffled; the fetched batch is, once: a round-robin repartition
        after the join. Without it extraction would run on the scan
        splits, and since the corpus is host-sorted while politeness
        takes a few pages per host, most of a batch can sit in the one
        split holding the many small tail hosts — one straggler task."""
        slots = self.spark.sparkContext.defaultParallelism
        bsel = batch.select(*_BATCH_COLS)
        if self.fetch_mode == "corpus":
            fetched = self.pages.select("url", "html", "status").join(
                F.broadcast(bsel), "url", "inner"
            )
            # url-column-only scan → broadcast the (small) matched keys
            # back out for the anti join; bsel is politeness-bounded so
            # both broadcasts are ≤ batch-size rows
            matched_urls = self.pages.select("url").join(
                F.broadcast(bsel.select("url")), "url", "left_semi"
            )
            missing = (
                bsel.join(F.broadcast(matched_urls), "url", "left_anti")
                .withColumn("html", F.lit(None).cast("string"))
                .withColumn("status", F.lit(None).cast("int"))
            )
            return fetched.unionByName(missing.select(*fetched.columns)).repartition(slots)
        # real HTTP GET inside the task: the politeness window upstream
        # bounds per-host request counts per round; the batch (no bodies
        # yet) is spread before the fetch so requests go out in one even
        # wave
        from .fetch import http_fetch_batch

        cfg = self.fetch_config
        sel = bsel.repartition(slots)
        fetch_schema = T.StructType(
            sel.schema.fields
            + [
                T.StructField("status", T.IntegerType()),
                T.StructField("html", T.StringType()),
            ]
        )

        def fetch_gen(batches):
            for pdf in batches:
                st, ht = http_fetch_batch(pdf["url"].tolist(), cfg)
                pdf = pdf.copy()
                pdf["status"] = pd.Series(st, index=pdf.index, dtype="int64")
                pdf["html"] = ht
                yield pdf

        return sel.mapInPandas(fetch_gen, fetch_schema)

    def run(self, resume: bool = False) -> dict:
        spark = self.spark
        last = self.store.last_complete_round() if resume else None
        if last is None:
            self.store.init_engine(
                {
                    "corpus": self.corpus_dir,
                    "n_salts": self.n_salts,
                    "bloom": list(self._bloom_cfg),
                    "bloom_mode": self.bloom_mode,
                    "frontier_compact_every": self.frontier_compact_every,
                    "priority_decay": PRIORITY_DECAY,
                    "default_budget": DEFAULT_BUDGET,
                    "budget_scale": self.budget_scale,
                }
            )
            obs = Observation()
            path = self.store.table_path(-1, "frontier_delta")
            self._seed_frontier().select(*_FRONTIER_COLS).observe(
                obs, F.count(F.lit(1)).alias("rows")
            ).write.mode("overwrite").parquet(path)
            pending_rows = int(obs.get["rows"])
            # bloom from the durable delta (deterministic lineage)
            self._bloom_update(
                self._read_frontier(path).select("url_hash"), "url_hash"
            )
            self.store.commit_round(
                -1,
                {"frontier_delta": (path, pending_rows)},
                {
                    "n_fetched": 0,
                    "total_fetched": 0,
                    "n_pending": pending_rows,
                    "n_pending_next": pending_rows,
                },
            )
            start_round, seq_offset = 0, 0
            self._base_round = -1
        else:
            manifest = self.store.read_manifest()
            entry = [r for r in manifest["rounds"] if r["round"] == last][0]
            seq_offset = entry["metrics"]["total_fetched"]
            start_round = last + 1
            pending_rows = entry["metrics"]["n_pending_next"]
            base_rounds = [
                r["round"] for r in manifest["rounds"] if "frontier_base" in r["tables"]
            ]
            self._base_round = max(base_rounds) if base_rounds else -1
            if self.bloom_mode == "broadcast":
                self._bloom_rebuild(last + 1)
            # partitioned mode: the bloom table is already on disk; any
            # delta rows from a torn (uncommitted) round are FP-only.

        rounds_sec = 0.0
        prev_new: int | None = None
        for rnd in range(start_round, self.max_rounds):
            round_t0 = time.perf_counter()
            # pending count comes from the previous round's committed
            # write metrics — no extra action per round
            n_pending = pending_rows
            if n_pending == 0:
                break
            frontier = self._pending_frontier(rnd)
            batch = self._politeness_batch(frontier, seq_offset, n_pending)
            fetched_in = self._fetch_batch(batch)
            extracted = fetched_in.mapInPandas(
                lambda it: _extract_batches(it), _EXTRACT_SCHEMA
            ).withColumn("round", F.lit(rnd))

            # --- write 1: round_data (fetch log + images + links; its
            # (url_hash,url) columns double as the frontier tombstones) --
            obs1 = Observation()
            rd_path = self.store.table_path(rnd, "round_data")
            extracted.observe(
                obs1,
                F.count(F.lit(1)).alias("n_fetched"),
                F.coalesce(F.sum("n_images"), F.lit(0)).alias("n_images"),
            ).write.mode("overwrite").parquet(rd_path)
            m1 = obs1.get
            n_fetched = int(m1["n_fetched"])
            batch.unpersist()

            # --- new links: dedup → robots → bloom → exact seen check ----
            # derived from the DURABLE round_data, not the in-memory
            # lineage: in http mode a recomputed (evicted) fetch could
            # return different content — the committed file is the truth
            # every downstream stage must see
            links = (
                self._read_round_data(rd_path)
                .select(
                    "fetch_seq",
                    F.col("url").alias("parent_url"),
                    "priority",
                    "depth",
                    F.explode("links").alias("l"),
                )
                .select(
                    F.col("l.url").alias("url"),
                    F.col("l.url_hash").alias("url_hash"),
                    "fetch_seq",
                    "parent_url",
                    "priority",
                    "depth",
                )
            )
            deduped = (
                links.groupBy("url", "url_hash")
                .agg(
                    F.min(F.struct("fetch_seq", "parent_url", "priority", "depth")).alias(
                        "p"
                    )
                )
                .select(
                    "url",
                    "url_hash",
                    F.col("p.parent_url").alias("parent_url"),
                    (F.col("p.priority") * F.lit(PRIORITY_DECAY)).alias("priority"),
                    (F.col("p.depth") + 1).alias("depth"),
                )
                .withColumn("host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
            )
            allowed = self._filter_disallowed(deduped)
            probed = self._bloom_maybe_seen(allowed, "url_hash").persist()
            definite_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
            confirmed_new = self._exact_new(maybe, rnd)
            new_entries = definite_new.unionByName(confirmed_new).select(*_FRONTIER_COLS)

            # --- write 2: frontier delta (O(new links) bytes) -----------
            # bound the delta's file count (sized from the previous
            # round's delta, ~100k rows/file): the naive union writes
            # width×2 near-empty files per round, and every later round
            # re-reads ALL deltas for the pending and seen views — file
            # count is a per-round tax on the whole rest of the crawl.
            # repartition, NOT coalesce: coalesce would propagate the
            # narrow width down into the dedup reduce and serialize the
            # whole link phase; the extra shuffle here moves only the
            # O(new links) narrow delta rows
            slots = self.spark.sparkContext.defaultParallelism
            est_new = prev_new if prev_new is not None else n_pending
            n_files = int(max(1, min(slots, est_new // 100_000 + 1)))
            obs2 = Observation()
            fr_path = self.store.table_path(rnd, "frontier_delta")
            to_write = new_entries.repartition(n_files)
            bits_acc = None
            if self.bloom_mode == "broadcast":
                # fuse the bloom delta into THIS action: a pass-through
                # Arrow stage (AFTER the fan-in repartition, so at most
                # n_files tasks each ship one bitset delta) builds the
                # per-shard delta bitsets into an accumulator while the
                # rows flow to the writer, and the driver ORs them into
                # its bloom copy after the commit — the round drops from
                # 3 Spark actions to 2. The written file and the
                # accumulator see the same rows, so lineage stays
                # durable-delta-equivalent (resume still rebuilds from
                # the files, _bloom_rebuild).
                bits_acc = spark.sparkContext.accumulator({}, _BloomBitsAccum())
                schema = new_entries.schema
                n_shards, m, k = self._bloom_cfg

                def tap(batches, _acc=bits_acc):
                    for pdf in batches:
                        h = pdf["url_hash"].to_numpy(dtype=np.int64)
                        if len(h):
                            sh = shard_of(h, n_shards)
                            _acc.add(
                                {
                                    int(s): build_bits(h[sh == s], m, k).tobytes()
                                    for s in np.unique(sh)
                                }
                            )
                        yield pdf

                to_write = to_write.mapInPandas(tap, schema)
            to_write.observe(
                obs2, F.count(F.lit(1)).alias("n_new")
            ).write.mode("overwrite").parquet(fr_path)
            n_new = int(obs2.get["n_new"])
            prev_new = n_new
            probed.unpersist()

            # --- bloom delta (fused via accumulator in broadcast mode;
            # its own distributed append job in partitioned mode) --------
            if self.bloom_mode == "broadcast":
                for s, bits in bits_acc.value.items():
                    self.bloom.bits[s] |= np.frombuffer(bits, dtype=np.uint8)
            else:
                self._bloom_update(
                    self._read_frontier(fr_path).select("url_hash"), "url_hash"
                )
            self._bloom_release()
            if (
                self.bloom_mode == "partitioned"
                and rnd > 0
                and rnd % self.bloom_compact_every == 0
            ):
                self._bloom_compact()

            pending_rows = n_pending - n_fetched + n_new
            seq_offset += n_fetched
            tables = {
                "round_data": (rd_path, n_fetched),
                "frontier_delta": (fr_path, n_new),
            }
            if (
                self.frontier_compact_every
                and pending_rows > 0
                and rnd - self._base_round >= self.frontier_compact_every
            ):
                bpath, brows = self._compact_frontier(rnd)
                tables["frontier_base"] = (bpath, brows)
                # compaction observes the EXACT pending count — reconcile
                # the arithmetic tracker against it so any row-multiplying
                # anomaly (e.g. duplicate corpus URLs inflating the
                # resolver join) can't drift silently across rounds
                pending_rows = brows
            self.store.commit_round(
                rnd,
                tables,
                {
                    "n_pending": n_pending,
                    "n_fetched": n_fetched,
                    "n_new_links": n_new,
                    "n_images": int(m1["n_images"]),
                    "total_fetched": seq_offset,
                    "n_pending_next": pending_rows,
                },
            )
            rounds_sec += time.perf_counter() - round_t0
            # pending_rows <= 0 guards against a negative drift spinning
            # empty rounds to max_rounds if the tracker ever went wrong
            if n_fetched == 0 or pending_rows <= 0:
                break

        # release the per-engine robots cache: harnesses that build many
        # engines in one Spark session (best-of-N bench loops) would
        # otherwise accumulate one cached copy per engine. A later
        # re-run on the same instance just re-reads the tiny parquet.
        self.robots.unpersist()
        return {
            "total_fetched": seq_offset,
            "rounds_sec": round(rounds_sec, 2),
            "rounds": self.store.read_manifest()["rounds"],
        }

    # ------------------------------------------------------------------

    def _round_data_paths(self) -> list[str]:
        rounds = [r["round"] for r in self.store.read_manifest()["rounds"] if r["round"] >= 0]
        paths = [self.store.table_path(r, "round_data") for r in rounds]
        return [p for p in paths if os.path.exists(p)]

    def fetch_log_df(self) -> DataFrame:
        return self._read_round_data(*self._round_data_paths()).select(*_FETCH_COLS)

    def seen_df(self) -> DataFrame:
        last = self.store.last_complete_round()
        return self._seen_union((last if last is not None else -1) + 1)

    def images_df(self) -> DataFrame:
        return (
            self._read_round_data(*self._round_data_paths())
            .select(F.col("url").alias("page_url"), F.explode("imgs").alias("img"))
            .select("page_url", "img.image_id", "img.src", "img.caption")
        )
