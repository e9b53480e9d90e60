"""The two crawl workloads: a template snapshot built once in set-up, then a
closed loop of identical ops. One op resumes a fresh ``CrawlEngine`` on an
untimed hardlink clone of the template and runs one round. Cloning is safe
because the store never rewrites a file in place: data lands in new snapshot
directories and the manifest flips by ``os.replace``."""

from __future__ import annotations

import collections
import os
import shutil
import time
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import world as W
from host import Spans, steal_s, tree_cpu_s

from arxiv_crawler_spark.crawl import CrawlConfig, CrawlEngine
from arxiv_crawler_spark.fixtures import arxiv_id_of, multihost_resolver

N_HOSTS = 8
OP_ROUND = 2  # bootstrap is round 0, the template round is 1


@dataclass(frozen=True)
class Workload:
    name: str
    spec: W.WorldSpec
    n_seeds: int = 0  # bulk: seeds drawn from the world; 0 = seed every document
    budgets: tuple[int, ...] = ()  # polite: per-host fetches per round
    round_seconds: float = 1e9  # politeness window; 1e9 = no limit


WORKLOADS = {
    "crawl_bulk": Workload(
        "crawl_bulk", W.WorldSpec(n_docs=4000, n_cite=7, n_dangle=1, dangle_pool=1000), n_seeds=150
    ),
    "crawl_polite": Workload(
        "crawl_polite",
        W.WorldSpec(n_docs=4000, n_cite=7, n_dangle=1, multihost=True),
        budgets=(50, 40, 30, 25, 20, 15, 10, 10),
        round_seconds=60.0,
    ),
}

# tiny sizes for the benchmark's own tests
SMOKE = {
    "crawl_bulk": replace(
        WORKLOADS["crawl_bulk"],
        spec=W.WorldSpec(n_docs=400, n_cite=4, n_dangle=1, n_bib=8, n_refs=4, dangle_pool=100),
        n_seeds=20,
    ),
    "crawl_polite": replace(
        WORKLOADS["crawl_polite"],
        spec=W.WorldSpec(n_docs=800, n_cite=4, n_dangle=1, n_bib=8, n_refs=4, multihost=True),
        budgets=(8, 6, 5, 4, 3, 2, 1, 1),
        round_seconds=6.0,
    ),
}


@dataclass
class Op:
    wall_s: float
    cpu_s: float
    steal_s: float
    waved: int = 0
    processed: int = 0
    error: str | None = None
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    hashes: dict[str, tuple[int, int, int]] = field(default_factory=dict)


def clone(src: str, dst: str) -> None:
    shutil.copytree(src, dst, copy_function=os.link)


class CrawlBench:
    def __init__(self, spark, wl: Workload, seed: int, work: str, spans: Spans, wrong: bool = False):
        self.spark, self.wl, self.seed, self.work, self.spans = spark, wl, seed, work, spans
        self.world = W.make_world(seed, wl.spec)
        self.ops: list[Op] = []
        self.wrong = wrong

    # ----------------------------------------------------------- set-up
    def config(self, **kw) -> CrawlConfig:
        """The program's own throughput config (bench.py), defaults kept."""
        wl = self.wl
        cap = 2 * sum(wl.budgets) if wl.budgets else wl.spec.n_docs
        return CrawlConfig(
            mode="wave",
            max_papers=wl.spec.n_docs,
            wave_size=cap,
            round_seconds=wl.round_seconds,
            use_bloom=True,
            hash_algo="murmur64",
            exact_lineage=False,
            **kw,
        )

    def _robots(self):
        """One row per mirror host: the seed deals the budgets to hosts;
        every host disallows the prefix of the dangling ids."""
        rng = np.random.default_rng([self.seed, 2])
        budgets = rng.permutation(np.array(self.wl.budgets))
        path = os.path.join(self.work, "robots")
        os.makedirs(path, exist_ok=True)
        table = pa.table(
            {
                "host": [f"mirror{h}.example.org" for h in range(N_HOSTS)],
                "crawl_delay": [self.wl.round_seconds / int(b) for b in budgets],
                "disallow": [[W.DENIED_PREFIX]] * N_HOSTS,
            }
        )
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        wl, work = self.wl, self.work
        pages_path = os.path.join(work, "pages")
        self.world.write_pages(pages_path)
        self.pages = self.spark.read.parquet(pages_path)
        if wl.budgets:
            self.robots, self.resolver = self._robots(), multihost_resolver
            seeds = list(range(wl.spec.n_docs))
            self.expected = W.expect_polite(self.world, sum(wl.budgets))
        else:
            self.robots, self.resolver = None, None
            seeds = W.bulk_seeds(self.seed, self.world, wl.n_seeds)
            self.expected, _ = W.expect_bulk(self.world, seeds)
        if self.wrong:
            self.expected = replace(self.expected, waved=self.expected.waved + 1)
        self.template = os.path.join(work, "template")
        # the template round activates the Bloom, so every op probes it
        eng = self.engine(self.template, bloom_min_seen=0)
        eng.bootstrap([arxiv_id_of(i) for i in seeds])
        eng.run_round()

    def engine(self, path: str, **kw) -> CrawlEngine:
        return CrawlEngine(
            self.spark, path, self.pages, self.config(**kw), robots=self.robots,
            link_resolver=self.resolver,
        )

    # --------------------------------------------------------------- op
    def run_op(self) -> Op:
        k = len(self.ops)
        path = os.path.join(self.work, f"op{k}")
        clone(self.template, path)
        self.spans.op = k
        root = os.getpid()
        s0, c0 = steal_s(), tree_cpu_s(root)
        t0 = time.perf_counter()
        err, res = None, None
        with self.spans.span("op"):
            try:
                with self.spans.span("resume"):
                    eng = self.engine(path)
                    eng.store.manifest()
                with self.spans.span("run_round"):
                    res = eng.run_round()
            except Exception as e:  # an op that raises is a failed op, not a crashed run
                err = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        op = Op(wall, tree_cpu_s(root) - c0, steal_s() - s0, error=err)
        op.t0_ms, op.t1_ms = self.spans.of("op", k)[0]
        self.spans.op = -1
        if res is None and err is None:
            op.error = "run_round returned None"
        if res is not None:
            op.waved, op.processed = res.waved, res.processed
            diff = self.expected.diff(res)
            if diff:
                op.error = "counters (expected, got): " + repr(diff)
        self.ops.append(op)
        return op

    def run(self, seconds: float, min_ops: int, max_ops: int) -> None:
        t0 = time.perf_counter()
        while len(self.ops) < max_ops:
            left = seconds - (time.perf_counter() - t0)
            last = self.ops[-1].wall_s if self.ops else 0.0
            if len(self.ops) >= min_ops and left < 0.5 * last:
                break
            self.run_op()

    # ------------------------------------------------------- untimed checks
    def check_deltas(self) -> None:
        """Order-insensitive value hash of each op's seen set and of its
        round's fetched and edges rows, read back through the store's public
        readers. Every op must agree with the majority."""
        from pyspark.sql import functions as F

        def value_hash(df):
            h = F.xxhash64(*sorted(df.columns))
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
                F.bit_xor(h).alias("x"),
            )

        parts: dict[str, list] = collections.defaultdict(list)
        live = [k for k, op in enumerate(self.ops) if op.error is None]
        for k in live:
            store = self.engine(os.path.join(self.work, f"op{k}")).store
            m = store.manifest()
            rnd = F.col("round") == OP_ROUND
            for name, df in (
                ("seen", store.seen(m)),
                ("fetched", store.fetched(m).filter(rnd)),
                ("edges", store.edges(m).filter(rnd)),
            ):
                parts[name].append(value_hash(df).withColumn("op", F.lit(k)))
        for name, dfs in parts.items():
            u = dfs[0]
            for d in dfs[1:]:
                u = u.unionByName(d)
            for r in u.collect():
                self.ops[r["op"]].hashes[name] = (int(r["n"]), int(r["s"] or 0), int(r["x"] or 0))
        votes = collections.Counter(tuple(sorted(self.ops[k].hashes.items())) for k in live)
        if votes:
            ref = votes.most_common(1)[0][0]
            for k in live:
                if tuple(sorted(self.ops[k].hashes.items())) != ref:
                    self.ops[k].error = f"delta hashes differ from the majority: {self.ops[k].hashes}"

    def written(self, k: int) -> tuple[int, int]:
        """(files, bytes) of data files the op's round wrote."""
        snaps = os.path.join(self.work, f"op{k}", "snapshots")
        files = size = 0
        for d in os.listdir(snaps):
            if not d.startswith(f"r{OP_ROUND:06d}"):
                continue
            for base, _, names in os.walk(os.path.join(snaps, d)):
                for n in names:
                    if n.endswith((".parquet", ".npz")):
                        files += 1
                        size += os.path.getsize(os.path.join(base, n))
        return files, size

    def bloom_fp_frac(self, k: int) -> float:
        """Share of the op's truly unseen probed links that the template's
        Bloom reports as present."""
        from arxiv_crawler_spark.crawl.bloom import ShardedBloom
        from arxiv_crawler_spark.functions.hashing import murmur3_x64_64_np
        from pyspark.sql import functions as F

        tstore = self.engine(self.template).store
        tm = tstore.manifest()
        seen = {int(r[0]) for r in tstore.seen(tm).select("url_hash").collect()}
        ostore = self.engine(os.path.join(self.work, f"op{k}")).store
        urls = [
            r[0]
            for r in ostore.fetched(ostore.manifest())
            .filter((F.col("round") == OP_ROUND) & (F.col("status") == "processed"))
            .select("url")
            .collect()
        ]
        doc_of = {self.world.doc_url(i): i for i in range(self.wl.spec.n_docs)}
        targets = {
            self.world.doc_url(j)
            for u in urls
            for j in self.world.cites[doc_of[u]]
            if not (self.wl.budgets and j >= W.DENIED_BASE)  # denied links are never probed
        }
        hashes = murmur3_x64_64_np(pd.Series(sorted(targets)))
        unseen = np.array([h for h in hashes if int(h) not in seen], dtype=np.int64)
        if unseen.size == 0:
            return 0.0
        shards = tm["bloom_shards"]
        n_shards = self.config().n_buckets
        hit = 0
        by_shard = collections.defaultdict(list)
        for h in unseen:
            by_shard[int(h) % n_shards].append(h)
        for s, hs in by_shard.items():
            rel = shards.get(str(s))
            if rel:
                b = ShardedBloom.load(os.path.join(self.template, rel))
                hit += int(b.contains(np.array(hs, dtype=np.int64)).sum())
        return hit / unseen.size
