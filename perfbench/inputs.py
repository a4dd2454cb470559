"""Seeded benchmark inputs and their cached goldens.

Everything here runs outside every timed region: what the set-up reads
before it, the rest in a child process beside it. Inputs live under ``<checkout>/.perfbench/cache``; each entry is
keyed by its parameters (the crawl worlds through ``ensure_world``'s
datagen version stamp) plus a fingerprint of the package source, so a
code change never reuses a stale golden.

* Crawl worlds are generated once per checkout from fixed
  ``WorldParams``. ``--seed`` draws the crawl's seed set and the seed
  priorities, so every seed is a different crawl over the same corpus.
* The analytics corpus (``documents``, ``embeddings``) has fixed content;
  ``--seed`` permutes its row order. Operator outputs are
  order-insensitive, so the DuckDB goldens are computed once.
* The all-unique JPEG table is drawn from the seed.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import os
import pickle
import shutil

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench", "cache")


def code_fingerprint() -> str:
    """Digest of the package source and of this input generator: part
    of every cache key, so a code change never reuses a stale entry."""
    h = hashlib.blake2b(digest_size=8)
    paths = [os.path.abspath(__file__)]
    for d, dirs, files in os.walk(os.path.join(ROOT, "scalpel_spark")):
        dirs.sort()
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as fh:
            h.update(os.path.basename(p).encode() + fh.read())
    return h.hexdigest()


def _key(*parts) -> str:
    return hashlib.blake2b(
        json.dumps(parts, sort_keys=True, default=str).encode(), digest_size=8
    ).hexdigest()


def _cached_pickle(path: str, build):
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(value, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(path + ".tmp", path)
    return value


def _atomic_dir(path: str, build) -> str:
    """Build ``path`` via a temp dir + rename, so a killed run never
    leaves a half-written input behind."""
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# crawl inputs


@dataclasses.dataclass(frozen=True)
class CrawlSpec:
    world: dict  # WorldParams fields
    seed_fraction: float  # share of pages the --seed draws as crawl seeds
    max_rounds: int
    frontier_compact_every: int
    #: simulator helpers memoized per world (see _memoized_simulator)
    sim_memo: tuple = ("canonicalize_url", "url_hash", "url_host")
    #: shape checks: every round's pending frontier is above the engine's
    #: salt-skip threshold; at least one frontier_base compaction commits
    salted: bool = False
    compacts: bool = False


def _world_params(spec: CrawlSpec):
    from scalpel_spark.datagen.world import WorldParams

    return WorldParams(**spec.world)


def crawl_input(spec: CrawlSpec, seed: int) -> str:
    """→ corpus dir for ``seed``: the shared world's pages/robots/images
    (hard links) plus a seed-drawn ``seeds.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from scalpel_spark.datagen.world import ensure_world

    params = _world_params(spec)
    world = os.path.join(CACHE, "world-" + _key(dataclasses.asdict(params)))
    ensure_world(world, params)
    corpus = os.path.join(
        world + ".seeds", _key(spec.seed_fraction, seed, _file_stamp(world))
    )

    def build(tmp):
        for name in ("pages", "robots", "images"):
            os.link(os.path.join(world, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet"))
        urls = pq.read_table(os.path.join(world, "pages.parquet"), columns=["url"])["url"]
        rng = np.random.default_rng(seed)
        n = len(urls)
        pick = np.sort(rng.choice(n, size=int(n * spec.seed_fraction), replace=False))
        prio = np.round(rng.uniform(0.5, 1.0, size=len(pick)), 6)
        pq.write_table(
            pa.table({"url": urls.take(pa.array(pick)), "priority": pa.array(prio)}),
            os.path.join(tmp, "seeds.parquet"),
        )

    return _atomic_dir(corpus, build)


def _file_stamp(world: str) -> str:
    with open(os.path.join(world, "world_version.json")) as f:
        return f.read()


class _LazyPages:
    """``url -> {html, status}`` view over the pages parquet for the
    simulator, which only ever ``.get``s the URLs it fetches: rows are
    materialized on access instead of the whole table up front."""

    def __init__(self, path: str):
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["url", "html", "status"])
        self._html = t["html"]
        self._status = t["status"]
        self._index = {u: i for i, u in enumerate(t["url"].to_pylist())}

    def get(self, url, default=None):
        i = self._index.get(url)
        if i is None:
            return default
        return {"html": self._html[i].as_py(), "status": self._status[i].as_py()}


@contextlib.contextmanager
def _memoized_simulator(memo: dict, names):
    """Swap the simulator's pure per-URL helpers for memoized wrappers.

    ``canonicalize_url``, ``url_hash``, ``url_host`` and ``extract_page`` are pure
    functions of their arguments and the world is fixed, so a per-world
    memo returns exactly what the call would: goldens stay the
    simulator's own output, only cheaper to recompute for a new seed."""
    from scalpel_spark.crawl import simulator as sim

    originals = {n: getattr(sim, n) for n in names}

    def wrap(name, fn):
        table = memo.setdefault(name, {})

        def call(*args):
            # every helper is keyed by its URL argument (the last one):
            # in a fixed world a page URL determines its html
            v = table.get(args[-1])
            if v is None:
                v = table[args[-1]] = fn(*args)
            return v

        return call

    for name, fn in originals.items():
        setattr(sim, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(sim, name, fn)


def crawl_golden(spec: CrawlSpec, corpus: str) -> dict:
    """Simulator golden for the corpus, cached by (seeds, params, code).

    → {"fetch_log": [tuples], "seen": {(hash, url)}, "images": [tuples]}"""
    import pyarrow.parquet as pq
    from scalpel_spark.crawl.simulator import simulate_crawl

    fp = code_fingerprint()
    path = os.path.join(corpus, f"golden-{_key(spec.max_rounds, fp)}.pkl")

    def build():
        memo_path = os.path.join(os.path.dirname(corpus), f"simmemo-{fp}.pkl")
        memo = {}
        if os.path.exists(memo_path):
            with open(memo_path, "rb") as f:
                memo = pickle.load(f)
        before = sum(len(t) for t in memo.values())
        seeds = pq.read_table(os.path.join(corpus, "seeds.parquet")).to_pylist()
        robots = {
            r["host"]: r
            for r in pq.read_table(os.path.join(corpus, "robots.parquet")).to_pylist()
        }
        pages = _LazyPages(os.path.join(corpus, "pages.parquet"))
        with _memoized_simulator(memo, spec.sim_memo):
            res = simulate_crawl(pages, seeds, robots, max_rounds=spec.max_rounds)
        if sum(len(t) for t in memo.values()) != before:
            with open(memo_path + ".tmp", "wb") as f:
                pickle.dump(memo, f, protocol=pickle.HIGHEST_PROTOCOL)
            os.replace(memo_path + ".tmp", memo_path)
        return {
            "fetch_log": [
                (r.fetch_seq, r.round, r.url, r.url_hash, r.host, r.parent_url, r.status, r.n_images)
                for r in res.fetch_log
            ],
            "seen": set(res.seen.items()),
            "images": sorted(res.images),
        }

    return _cached_pickle(path, build)


# ---------------------------------------------------------------------------
# analytics inputs

_LANGS = ["en", "de", "fr", "es", "zh"]
_SYLLABLES = "ka lo mi ren tus vel dor pan sil gre bor net fa qui zen".split()


def _documents(n: int):
    """Fixed corpus in the catalog's ``documents`` schema.

    Originals are 30-80 words over a 3,375-word vocabulary, so unrelated
    docs share almost no shingles. A tenth of the rows are exact copies
    and a tenth are one-word edits of an original (word-bigram jaccard
    ≥ 0.9, char-4-gram ≥ 0.9, siblings ≥ 0.8): every similarity is far
    from the catalog's 0.5/0.8 thresholds, so the LSH-based dedup rows
    find every planted pair and stay exact against the brute-force
    oracles."""
    rng = np.random.default_rng(20240)
    vocab = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.1:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif originals and r < 0.2:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(30, 81))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), size=k)))
            originals.append(i)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), size=n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(n: int, dim: int = 64):
    """Fixed ``embeddings`` table: ten label clusters plus noise, so the
    cosine ≥ 0.35 join has a few pairs per vector, not all pairs."""
    rng = np.random.default_rng(20241)
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    vecs = (0.6 * centers[labels] + rng.normal(size=(n, dim))).astype(np.float32) * 0.1
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs), "label": labels}


@dataclasses.dataclass(frozen=True)
class AnalyticsSpec:
    n_docs: int
    n_embeddings: int
    n_unique_images: int


ORACLE_TABLES = ("documents", "embeddings")


def analytics_input(spec: AnalyticsSpec, seed: int) -> str:
    """→ dir with seed-permuted ``documents``/``embeddings`` parquet and
    the seed-drawn all-unique JPEG table ``unique_images``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(
        CACHE, "analytics-" + _key(dataclasses.asdict(spec), seed, code_fingerprint())
    )

    def build(tmp):
        rng = np.random.default_rng(seed)
        for name, cols in (
            ("documents", _documents(spec.n_docs)),
            ("embeddings", _embeddings(spec.n_embeddings)),
        ):
            table = pa.table(cols)
            if name == "embeddings":
                table = table.set_column(
                    1, "embedding", pa.array(cols["embedding"], type=pa.list_(pa.float32()))
                )
            perm = rng.permutation(table.num_rows)
            pq.write_table(
                table.take(pa.array(perm)), os.path.join(tmp, f"{name}.parquet"),
                row_group_size=1024,
            )
        pq.write_table(unique_images(spec.n_unique_images, seed), os.path.join(tmp, "unique_images.parquet"))

    return _atomic_dir(path, build)


def unique_images(n: int, seed: int):
    """All-unique baseline-JPEG rows in the input_hint schema
    ``(image_id, bytes, w, h, fmt, caption, phash)``, via the world
    datagen (every blob distinct, so no decode memo can help)."""
    import pyarrow as pa
    from scalpel_spark.datagen.world import WorldParams, _SCHEMAS, _arrow_type, make_image_row

    params = WorldParams(seed=10_000 + seed, jpeg_fraction=1.0)
    rows = [make_image_row(i, params) for i in range(n)]
    schema = pa.schema([(c, _arrow_type(t)) for c, t in _SCHEMAS["images"]])
    return pa.Table.from_pylist(rows, schema=schema)


def oracle_goldens(spec: AnalyticsSpec, data_dir: str, names) -> dict:
    """DuckDB goldens (``queries.ORACLES``) as ``{"columns": sorted
    column names, "rows": rows in the catalog oracle test's normal
    form}``; row order is the only thing the seed changes, so they are
    cached per spec. Rows sharing one oracle (minhash/simhash) evaluate
    it once."""
    import duckdb
    from scalpel_spark.queries import ORACLES
    from tests.test_queries_oracle import _norm

    path = os.path.join(
        CACHE, f"oracles-{_key(dataclasses.asdict(spec), sorted(names), code_fingerprint())}.pkl"
    )

    def build():
        con = duckdb.connect()
        for t in ORACLE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        by_sql = {}
        for n in names:
            if ORACLES[n] not in by_sql:
                df = con.sql(ORACLES[n]).df()
                by_sql[ORACLES[n]] = {"columns": sorted(df.columns), "rows": _norm(df)}
        return {n: by_sql[ORACLES[n]] for n in names}

    return _cached_pickle(path, build)
