"""The three workloads: what each times, how it checks its outputs, and
which end-to-end metrics it derives.

Every workload reports the same end-to-end metric names (``UNITS``) so
that each is comparable run over run; the workload-specific figures the
design discussion uses (``urls_per_s``, ``round_s_p50``, ``scrape_s``
...) go to the detail line.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time

import inputs

UNITS = {
    "setup_s": "s",
    "op_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

WORK = os.path.join(inputs.ROOT, ".perfbench")


class Spans(list):
    """Benchmark-side spans (name, start, end, parent, run id) around
    each public call; kept in memory, written out by the traced run."""

    def add(self, name: str, start: float, end: float, parent: str | None, run_id: str) -> None:
        self.append({"name": name, "start": start, "end": end, "parent": parent, "run_id": run_id})


def _pages_sample(path: str, n: int = 200) -> list:
    """Fixed-stride sample of ``(html, url)`` rows from a pages table."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["html", "url"])
    idx = list(range(0, t.num_rows, max(1, t.num_rows // n)))[:n]
    t = t.take(idx)
    return list(zip(t["html"].to_pylist(), t["url"].to_pylist()))


def _images_sample(path: str, n: int = 40) -> list:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["bytes", "fmt"]).slice(0, n)
    return list(zip(t["bytes"].to_pylist(), t["fmt"].to_pylist()))


def warm_session(spark) -> None:
    """Untimed warm-up shared by every workload: one Arrow Python stage
    per core that imports the package's operator modules, so no timed
    task pays worker spawn or module import."""
    import pandas as pd

    def imports(batches):
        import scalpel_spark.annops  # noqa: F401
        import scalpel_spark.crawl.engine  # noqa: F401
        import scalpel_spark.imageops  # noqa: F401
        import scalpel_spark.queries  # noqa: F401
        import scalpel_spark.spark.extract  # noqa: F401
        import scalpel_spark.textops  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"id": b["id"] * 2})

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4096, 1, n).mapInPandas(imports, "id long").collect()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# crawls

_UNLIMITED = dict(budget_min=10**6, budget_max=10**6 + 1)

CRAWL_SPECS = {
    # 10^10-regime shape: the pending frontier (≈ 212k rows) is above the
    # engine's 200k salt-skip threshold, per-host budgets keep the round
    # to a few thousand fetches, and a frontier_base compaction follows
    # it. One round (≈ 10 s on 4 cores) keeps a run near a minute.
    ("crawl_frontier", "full"): inputs.CrawlSpec(
        world=dict(seed=7, n_hosts=2000, n_pages=225_000, n_images=1000),
        seed_fraction=0.95, max_rounds=1, frontier_compact_every=1,
        salted=True, compacts=True,
    ),
    ("crawl_frontier", "tiny"): inputs.CrawlSpec(
        world=dict(seed=7, n_hosts=20, n_pages=400, n_images=40),
        seed_fraction=0.9, max_rounds=3, frontier_compact_every=2, compacts=True,
    ),
    # xfat shape: ~25 KB pages, half seeded, unlimited budgets — two
    # rounds fetch ~95% of the corpus, so extraction dominates the floor
    ("crawl_fat", "full"): inputs.CrawlSpec(
        world=dict(seed=11, n_hosts=200, n_pages=10_000, n_images=1000, page_weight=24,
                   **_UNLIMITED),
        seed_fraction=0.5, max_rounds=2, frontier_compact_every=8,
        sim_memo=("canonicalize_url", "url_hash", "url_host", "extract_page"),
    ),
    ("crawl_fat", "tiny"): inputs.CrawlSpec(
        world=dict(seed=11, n_hosts=10, n_pages=300, n_images=40, page_weight=4, **_UNLIMITED),
        seed_fraction=0.5, max_rounds=2, frontier_compact_every=8,
        sim_memo=("canonicalize_url", "url_hash", "url_host", "extract_page"),
    ),
}


class CrawlWorkload:
    """One operation = one ``CrawlEngine.run()`` into a fresh out dir.
    Checked against ``simulate_crawl`` under the same round cap: fetch
    log, URL-seen set and image records must be equal. A workload whose
    spec asks for it must also keep its shape: every round above the
    salt-skip threshold, a frontier_base compaction committed."""

    aqe = True

    def __init__(self, name: str, size: str, corrupt: bool):
        self.name = name
        self.spec = CRAWL_SPECS[(name, size)]
        self.corrupt = corrupt
        self.out_root = os.path.join(WORK, "out", name)
        self.ops: list[dict] = []
        self.spans = Spans()
        self.engine = None
        self.spark = None

    def prepare(self, seed: int) -> None:
        """The seeded corpus, which ``construct`` reads."""
        self.corpus = inputs.crawl_input(self.spec, seed)
        shutil.rmtree(self.out_root, ignore_errors=True)

    def prepare_rest(self) -> None:
        """The simulator golden, which only the checks read."""
        self.golden = inputs.crawl_golden(self.spec, self.corpus)

    warm_up = staticmethod(warm_session)

    def construct(self, spark) -> None:
        from scalpel_spark.crawl.engine import CrawlEngine

        self.spark = spark
        out = os.path.join(self.out_root, f"op{len(self.ops)}")
        shutil.rmtree(out, ignore_errors=True)
        self.engine = CrawlEngine(
            spark, self.corpus, out, max_rounds=self.spec.max_rounds,
            frontier_compact_every=self.spec.frontier_compact_every,
        )
        self.out = out

    def release(self) -> None:
        self.engine = None

    def timed_op(self) -> float:
        if self.engine is None:  # second and later operations: build untimed
            self.construct(self.spark)
        eng, self.engine = self.engine, None
        op = {"engine": eng, "out": self.out, "error": None}
        op["start"] = time.time()
        t0 = time.perf_counter()
        try:
            op["summary"] = eng.run()
        except Exception as e:  # counted as a failed operation
            op["error"] = repr(e)
        op["wall"] = time.perf_counter() - t0
        run_id = f"{self.name}-op{len(self.ops)}"
        self.spans.add("CrawlEngine.run", op["start"], op["start"] + op["wall"], None, run_id)
        if op["error"] is None:
            prev = op["start"]
            for r in op["summary"]["rounds"]:
                name = "bootstrap" if r["round"] < 0 else f"round {r['round']}"
                self.spans.add(name, prev, r["committed_at"], "CrawlEngine.run", run_id)
                prev = r["committed_at"]
        self.ops.append(op)
        return op["wall"]

    # --- traced-run hooks --------------------------------------------------

    def steps(self) -> int:
        """Rounds of the last operation (the traced one)."""
        return max(1, len(self.ops[-1].get("summary", {}).get("rounds", [])) - 1)

    def kernel_sample(self):
        return (
            _pages_sample(os.path.join(self.corpus, "pages.parquet")),
            _images_sample(os.path.join(self.corpus, "images.parquet")),
        )

    def layer_figures(self, spark) -> dict:
        """Crawl-only per-layer figures of the traced operation: the
        bootstrap's wall time, and the files and bytes each round's
        tables add (median over rounds, bootstrap excluded)."""
        op = self.ops[-1]
        rounds_dir = os.path.join(op["out"], "rounds")
        files, size = [], []
        for d in sorted(os.listdir(rounds_dir)):
            if d == "r-0001":
                continue
            walk = [os.path.join(p, f) for p, _, fs in os.walk(os.path.join(rounds_dir, d)) for f in fs]
            files.append(len(walk))
            size.append(sum(os.path.getsize(f) for f in walk))
        return {
            "engine.bootstrap_s": op["summary"]["rounds"][0]["committed_at"] - op["start"],
            "tableio.files_per_round": statistics.median(files),
            "tableio.bytes_per_round": statistics.median(size),
        }

    def phase_of(self, job: dict) -> str:
        """The engine table the job's SQL execution writes: round_data
        (politeness + fetch + extract), frontier_delta (links + bloom +
        seen check; round -1 is the bootstrap seed write) or
        frontier_base (compaction). Anything else — robots and bloom
        collects, broadcast builds outside a write — is "other"."""
        m = re.search(r"/rounds/r(-?\d+)/(round_data|frontier_delta|frontier_base)$", job["writes"])
        if not m:
            return "other"
        return "bootstrap" if m.group(1) == "-0001" else m.group(2)

    # --- checks ----------------------------------------------------------

    def check(self) -> tuple[int, int]:
        failed = 0
        for op in self.ops:
            if op["error"] is None:
                op["mismatch"] = self._mismatch(op["engine"]) + self._off_shape(op)
            if op["error"] or op["mismatch"]:
                failed += 1
        return len(self.ops), failed

    def _off_shape(self, op) -> list[str]:
        """A crawl that left the regime its workload exists for: a round
        at or below the salt-skip threshold runs the unsalted politeness
        path; without a compaction the frontier_base path never runs."""
        from scalpel_spark.crawl.engine import CrawlEngine

        rounds = self._rounds(op)
        bad = []
        if self.spec.salted and any(
            r["n_pending"] <= CrawlEngine._SALT_SKIP_PENDING for r in rounds
        ):
            bad.append("n_pending")
        if self.spec.compacts and not any("frontier_base" in r["tables"] for r in rounds):
            bad.append("compaction")
        return bad

    def _mismatch(self, eng) -> list[str]:
        log = eng.fetch_log_df().toPandas().sort_values("fetch_seq")
        got_log = [
            (int(r.fetch_seq), int(r.round), r.url, int(r.url_hash), r.host, r.parent_url,
             int(r.status), int(r.n_images))
            for r in log.itertuples(index=False)
        ]
        if self.corrupt:
            got_log = got_log[:-1]
        seen = eng.seen_df().toPandas()
        got_seen = set(zip(seen["url_hash"].astype("int64").tolist(), seen["url"].tolist()))
        imgs = eng.images_df().toPandas()
        got_imgs = sorted(
            zip(imgs["page_url"], imgs["image_id"], imgs["src"], imgs["caption"])
        )
        bad = []
        if got_log != self.golden["fetch_log"]:
            bad.append("fetch_log")
        if got_seen != self.golden["seen"]:
            bad.append("seen")
        if got_imgs != self.golden["images"]:
            bad.append("images")
        return bad

    # --- metrics ---------------------------------------------------------

    def _rounds(self, op) -> list[dict]:
        """Per-round wall time from the manifest: the gap between
        consecutive commits (round 0 starts at the bootstrap commit)."""
        rounds = op["summary"]["rounds"]
        return [
            {**cur["metrics"], "round": cur["round"],
             "wall_s": cur["committed_at"] - prev["committed_at"],
             "tables": sorted(cur["tables"])}
            for prev, cur in zip(rounds, rounds[1:])
        ]

    def _good(self):
        return [op for op in self.ops if op["error"] is None]

    def metrics(self) -> dict:
        good = self._good()
        return {
            "op_s": statistics.median(op["wall"] for op in good),
            "items_per_s": statistics.median(
                op["summary"]["total_fetched"] / op["wall"] for op in good
            ),
        }

    def detail(self) -> dict:
        ops = []
        for op in self._good():
            fetched = op["summary"]["total_fetched"]
            rounds = self._rounds(op)
            ops.append({
                "run_s": op["wall"],
                "urls": fetched,
                "urls_per_s": fetched / op["wall"],
                "round_s_p50": statistics.median(r["wall_s"] for r in rounds),
                "out_bytes_per_url": _dir_bytes(op["out"]) / max(fetched, 1),
                "bootstrap_s": op["summary"]["rounds"][0]["committed_at"] - op["start"],
                "compactions": sum("frontier_base" in r["tables"] for r in rounds),
                "rounds": rounds,
            })
        return {
            "ops": ops,
            "errors": [op["error"] for op in self.ops if op["error"]],
            "mismatches": [op.get("mismatch") for op in self.ops],
        }


# ---------------------------------------------------------------------------
# corpus analytics

ANALYTICS_SPECS = {
    # Below sf0.1 (5,000 documents, 2,000 embeddings) to keep a run near
    # a minute; see "Input sizes" in README.md. The LSH join's candidate
    # set is still ≈ N²/2 pairs, as at sf0.1.
    "full": inputs.AnalyticsSpec(n_docs=240, n_embeddings=480, n_unique_images=64),
    "tiny": inputs.AnalyticsSpec(n_docs=120, n_embeddings=80, n_unique_images=8),
}

#: (family, catalog row, input table) — the timed pass, in order.
#: The memo-friendly media rows are left out to keep a run near a
#: minute: ``image_stats`` (~8 s) decodes through the same
#: ``imageops.image_features`` kernel as the all-unique decode below,
#: and ``video_stats`` (~6 s) decodes 32 distinct MJPEG streams.
CATALOG_OPS = [
    ("scrape", "scrape_img_attrs", "documents"),
    ("scrape", "scrape_serial_sections", "documents"),
    ("dedup", "dedup_exact_docs", "documents"),
    ("dedup", "minhash_neardup_docs", "documents"),
    ("dedup", "simhash_neardup_docs", "documents"),
    ("dedup", "ngram_jaccard_neardup_docs", "documents"),
    ("ann", "ann_cosine_topk", "embeddings"),
    ("ann", "embedding_similarity_join_lsh", "embeddings"),
]
UNIQUE_DECODE = "unique_image_features"


class AnalyticsWorkload:
    """One operation = one pass over the catalog operators plus the
    all-unique image decode, each forced by a full ``toPandas`` collect.
    Catalog outputs are checked against their DuckDB oracles; the decode
    against the stored w/h/phash/caption."""

    aqe = False

    def __init__(self, name: str, size: str, corrupt: bool):
        self.spec = ANALYTICS_SPECS[size]
        self.corrupt = corrupt
        self.passes: list[dict] = []
        self.spans = Spans()
        self.spark = None

    def prepare(self, seed: int) -> None:
        """Nothing the set-up reads: the input comes with the goldens."""
        self.seed = seed

    def prepare_rest(self) -> None:
        self.data = inputs.analytics_input(self.spec, self.seed)
        self.golden = inputs.oracle_goldens(self.spec, self.data, [n for _, n, _ in CATALOG_OPS])
        if self.corrupt:
            name = CATALOG_OPS[0][1]
            rows = list(self.golden[name]["rows"])
            rows[0] = tuple("corrupted" for _ in rows[0])
            self.golden = {**self.golden, name: {**self.golden[name], "rows": sorted(rows)}}
        self.rows = {
            "documents": self.spec.n_docs,
            "embeddings": self.spec.n_embeddings,
        }

    def _call(self, spark, name: str, data: str):
        from scalpel_spark.queries import QUERIES
        from scalpel_spark.spark.util import release_candidate_cache

        try:
            return QUERIES[name](spark, data).toPandas()
        finally:
            release_candidate_cache()

    def _unique_decode(self, spark, data: str):
        from scalpel_spark.imageops import image_features

        imgs = spark.read.parquet(os.path.join(data, "unique_images.parquet"))
        return image_features(imgs, carry_cols=("w", "h", "caption", "phash")).toPandas()

    warm_up = staticmethod(warm_session)

    def construct(self, spark) -> None:
        self.spark = spark

    def release(self) -> None:
        pass

    def timed_op(self) -> float:
        walls, outs, errors = {}, {}, {}
        run_id = f"corpus_analytics-op{len(self.passes)}"
        start = time.time()
        t_pass = time.perf_counter()
        for _, name, _ in CATALOG_OPS + [(None, UNIQUE_DECODE, None)]:
            t0, s0 = time.perf_counter(), time.time()
            try:
                if name == UNIQUE_DECODE:
                    outs[name] = self._unique_decode(self.spark, self.data)
                else:
                    outs[name] = self._call(self.spark, name, self.data)
            except Exception as e:  # counted as a failed operation
                errors[name] = repr(e)
            walls[name] = time.perf_counter() - t0
            self.spans.add(name, s0, s0 + walls[name], "pass", run_id)
        wall = time.perf_counter() - t_pass
        self.spans.add("pass", start, start + wall, None, run_id)
        self.passes.append({"wall": wall, "walls": walls, "outs": outs, "errors": errors})
        return wall

    def check(self) -> tuple[int, int]:
        attempted = failed = 0
        for p in self.passes:
            p["mismatch"] = []
            for name, out in p["outs"].items():
                ok = self._unique_ok(out) if name == UNIQUE_DECODE else self._oracle_ok(name, out)
                if not ok:
                    p["mismatch"].append(name)
            attempted += len(p["walls"])
            failed += len(p["errors"]) + len(p["mismatch"])
        return attempted, failed

    def _oracle_ok(self, name: str, out) -> bool:
        """The catalog oracle test's gate: row count, column names and
        order-insensitive values."""
        from tests.test_queries_oracle import _norm

        want = self.golden[name]
        return (
            len(out) == len(want["rows"])
            and sorted(out.columns) == want["columns"]
            and _norm(out) == want["rows"]
        )

    def _unique_ok(self, out) -> bool:
        from scalpel_spark.datagen.world import image_caption

        captions = [image_caption(int(i.split("-")[1])) for i in out["image_id"]]
        return (
            len(out) == self.spec.n_unique_images
            and bool(out["decode_ok"].all())
            and (out["decoded_w"] == out["w"]).all()
            and (out["decoded_h"] == out["h"]).all()
            and (out["phash_check"] == out["phash"]).all()
            and list(out["caption"]) == captions
        )

    # --- traced-run hooks --------------------------------------------------

    def steps(self) -> int:
        return len(CATALOG_OPS) + 1

    def kernel_sample(self):
        """No crawl pages in this input: the html/url kernels use a small
        fixed datagen world, the decode kernel this run's unique JPEGs."""
        from scalpel_spark.datagen.world import WorldParams, generate_world

        pages = generate_world(WorldParams(seed=42, n_hosts=10, n_pages=200, n_images=10))["pages"]
        return (
            [(p["html"], p["url"]) for p in pages],
            _images_sample(os.path.join(self.data, "unique_images.parquet")),
        )

    def layer_figures(self, spark) -> dict:
        """Analytics-only per-layer figures: scrape throughput of the
        traced pass, and the candidate volume of each blocking step,
        recomputed untimed with the catalog rows' own parameters —
        minhash and char-4-gram banding (16 bands), simhash chunking
        (hamming ≤ 12) and the LSH join's hyperplane blocking — with the
        share of candidates that are golden pairs, and the LSH join's
        recall against its golden."""
        import inspect

        from pyspark.sql import functions as F
        from scalpel_spark.annops import hyperplane_signatures, similarity_join_lsh
        from scalpel_spark.spark.util import persist_candidates, release_candidate_cache
        from scalpel_spark.textops import (
            char_minhash_signatures,
            lsh_candidate_pairs,
            minhash_signatures,
            simhash_neardup,
        )
        from tests.test_queries_oracle import _norm

        p = self.passes[-1]
        docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        lsh = {k: v.default for k, v in inspect.signature(similarity_join_lsh).parameters.items()}
        sigs = persist_candidates(hyperplane_signatures(
            emb, lsh["n_tables"], lsh["n_planes"], seed=lsh["seed"],
            multiprobe=lsh["multiprobe"], mark_probes=True,
        ))
        probe = sigs.select(F.col("vec_id").alias("id_p"), "table", "bucket")
        base = sigs.where(~F.col("is_probe")).select(F.col("vec_id").alias("id_b"), "table", "bucket")
        try:
            lsh_candidates = (
                probe.join(base, ["table", "bucket"]).where("id_p != id_b")
                .select(F.least("id_p", "id_b"), F.greatest("id_p", "id_b")).distinct().count()
            )
            # family -> (candidate pairs, the catalog row they feed)
            blocking = {
                "minhash": (lsh_candidate_pairs(
                    persist_candidates(minhash_signatures(docs)), n_bands=16).count(),
                    "minhash_neardup_docs"),
                "simhash": (simhash_neardup(docs, max_hamming=12).count(), "simhash_neardup_docs"),
                "ngram": (lsh_candidate_pairs(
                    persist_candidates(char_minhash_signatures(docs, ngram_n=4)), n_bands=16).count(),
                    "ngram_jaccard_neardup_docs"),
            }
        finally:
            release_candidate_cache()
        golden = set(self.golden["embedding_similarity_join_lsh"]["rows"])
        out = p["outs"].get("embedding_similarity_join_lsh")
        found = golden & set(_norm(out)) if out is not None else set()
        scrape_s = p["walls"]["scrape_img_attrs"] + p["walls"]["scrape_serial_sections"]
        figures = {"extract_records.pages_per_s": 2 * self.spec.n_docs / scrape_s}
        for family, (n, row) in blocking.items():
            figures[f"textops.{family}_candidates"] = n
            figures[f"textops.{family}_verified_per_candidate"] = (
                len(self.golden[row]["rows"]) / max(n, 1))
        figures.update({
            "annops.lsh_candidates": lsh_candidates,
            "annops.lsh_candidates_per_n2": lsh_candidates / self.spec.n_embeddings**2,
            "annops.lsh_verified_per_candidate": len(golden) / max(lsh_candidates, 1),
            "annops.lsh_recall": len(found) / max(len(golden), 1),
        })
        return figures

    def phase_of(self, job: dict) -> str:
        """The operator whose span contains the job's submission."""
        t = job["start"] / 1000
        inner = [s for s in self.spans if s["parent"] == "pass" and s["start"] <= t <= s["end"]]
        return inner[-1]["name"] if inner else "(outside operators)"

    def _items(self) -> int:
        """Input rows one pass consumes: each operator's input table,
        plus the unique images."""
        return sum(self.rows[t] for _, _, t in CATALOG_OPS) + self.spec.n_unique_images

    def metrics(self) -> dict:
        walls = [p["wall"] for p in self.passes]
        return {
            "op_s": statistics.median(walls),
            "items_per_s": self._items() / statistics.median(walls),
        }

    def detail(self) -> dict:
        def fam(f):
            names = [n for fam_, n, _ in CATALOG_OPS if fam_ == f]
            return statistics.median(sum(p["walls"][n] for n in names) for p in self.passes)

        decode_s = statistics.median(p["walls"][UNIQUE_DECODE] for p in self.passes)
        return {
            "scrape_s": fam("scrape"),
            "dedup_s": fam("dedup"),
            "ann_s": fam("ann"),
            "unique_decode_per_s": self.spec.n_unique_images / decode_s,
            "op_walls": [p["walls"] for p in self.passes],
            "errors": [p["errors"] for p in self.passes if p["errors"]],
            "mismatches": [p.get("mismatch") for p in self.passes],
        }


WORKLOADS = {
    "crawl_frontier": lambda size, corrupt: CrawlWorkload("crawl_frontier", size, corrupt),
    "crawl_fat": lambda size, corrupt: CrawlWorkload("crawl_fat", size, corrupt),
    "corpus_analytics": lambda size, corrupt: AnalyticsWorkload("corpus_analytics", size, corrupt),
}
