"""Seeded crawl worlds and analytics tables owned by the benchmark.

Everything here is a pure function of ``(seed, spec)``: the same seed gives
the same rows and, because pyarrow writes parquet without timestamps or
random file names, byte-identical files. The crawl engine receives only the
written ``pages`` parquet and a seed list; the expected round counters are
computed here from the citation map by set arithmetic (``expect_*``), never
by reading the engine's output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from arxiv_crawler_spark.fixtures import arxiv_id_of, url_of

# Dangling ids of the polite world live under this id prefix, which every
# host's robots row disallows (world ids are below 2190.*).
DENIED_BASE = 900_000
DENIED_PREFIX = "/abs/219"


@dataclass(frozen=True)
class WorldSpec:
    n_docs: int  # documents with a page
    n_cite: int  # arXiv citations per document (in-world ones)
    n_dangle: int  # extra arXiv citations per document with no page
    n_bib: int = 24  # bibliography entries per document (the rest carry no id)
    n_refs: int = 16  # in-text reference sentences per document
    multihost: bool = False
    dangle_pool: int = 0  # bulk: dangling ids drawn from [n_docs, n_docs + pool)


_AUTHORS = "".join(
    f"<author><persName><forename>Fo{j}</forename><surname>Sur{j}</surname></persName></author>"
    for j in range(3)
)


def _bib(k: int, aid: str | None) -> str:
    head = (
        f'<biblStruct xml:id="b{k}"><analytic><title level="a">A moderately long paper'
        f" title number {k} on web-scale crawl scheduling and extraction</title>{_AUTHORS}"
    )
    if aid is None:
        return (
            f'{head}</analytic><monogr><title>Journal of Venue {k}</title><imprint>'
            f'<date type="published" when="19{k % 100:02d}" /></imprint></monogr></biblStruct>'
        )
    return (
        f'{head}<idno type="arXiv">arXiv:{aid}</idno></analytic><monogr><title>Conf {k}'
        f'</title><imprint><date type="published" when="20{k % 30:02d}" /></imprint>'
        f"</monogr></biblStruct>"
    )


def _body(n_refs: int, n_bib: int) -> str:
    return "".join(
        f"<p><s>A sentence with plenty of words describing the context of reference "
        f'number {k} in appropriate detail <ref type="bibr" target="#b{k % n_bib}">[{k}]'
        f"</ref>.</s><s>A follow-up sentence padding the paragraph with prose.</s></p>"
        for k in range(n_refs)
    )


def tei_doc(cited: list[str], n_bib: int, body: str) -> bytes:
    bibs = "".join(_bib(k, cited[k] if k < len(cited) else None) for k in range(n_bib))
    return (
        '<?xml version="1.0" encoding="UTF-8"?><TEI xmlns="http://www.tei-c.org/ns/1.0">'
        f"<teiHeader/><text><body>{body}</body><back><div><listBibl>{bibs}"
        "</listBibl></div></back></text></TEI>"
    ).encode()


@dataclass
class World:
    spec: WorldSpec
    cites: np.ndarray  # (n_docs, n_cite + n_dangle) int64 doc numbers

    def doc_url(self, i: int) -> str:
        return url_of(int(i), multi_host=self.spec.multihost)

    def write_pages(self, path: str) -> None:
        s = self.spec
        body = _body(s.n_refs, s.n_bib)
        urls, html = [], []
        for i in range(s.n_docs):
            urls.append(self.doc_url(i))
            html.append(tei_doc([arxiv_id_of(int(j)) for j in self.cites[i]], s.n_bib, body))
        table = pa.table({"url": pa.array(urls), "html": pa.array(html, type=pa.binary())})
        os.makedirs(path, exist_ok=True)
        # several row groups so the scan splits across both task slots
        pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=max(1, s.n_docs // 8))


def make_world(seed: int, spec: WorldSpec) -> World:
    """Citation map: each document cites ``n_cite`` uniformly drawn world
    documents and ``n_dangle`` ids with no page. Bulk worlds draw dangling
    ids from a shared pool (so several citers can share one); polite worlds
    give every document its own denied id."""
    rng = np.random.default_rng(seed)
    cols = [rng.integers(0, spec.n_docs, size=(spec.n_docs, spec.n_cite), dtype=np.int64)]
    if spec.n_dangle:
        if spec.multihost:
            own = DENIED_BASE + np.arange(spec.n_docs, dtype=np.int64) * spec.n_dangle
            cols.append(own[:, None] + np.arange(spec.n_dangle, dtype=np.int64)[None, :])
        else:
            cols.append(
                spec.n_docs
                + rng.integers(0, spec.dangle_pool, size=(spec.n_docs, spec.n_dangle), dtype=np.int64)
            )
    cites = np.concatenate(cols, axis=1)
    # shuffle each row so dangling slots are not always the last entries
    cites = np.take_along_axis(cites, rng.permuted(np.tile(np.arange(cites.shape[1]), (spec.n_docs, 1)), axis=1), axis=1)
    return World(spec, cites)


@dataclass(frozen=True)
class Expected:
    """RoundResult counters one op must reproduce."""

    waved: int
    processed: int
    failed: int
    links: int
    frontier_size: int
    robots_denied: int = 0

    def diff(self, res) -> dict[str, tuple[int, int]]:
        got = {
            "waved": res.waved,
            "processed": res.processed,
            "failed": res.failed,
            "links": int(res.lineage.get("links", -1)),
            "frontier_size": res.frontier_size,
            "robots_denied": res.robots_denied,
        }
        return {k: (getattr(self, k), v) for k, v in got.items() if getattr(self, k) != v}


def bulk_seeds(seed: int, world: World, n_seeds: int) -> list[int]:
    rng = np.random.default_rng([seed, 1])
    return sorted(int(i) for i in rng.choice(world.spec.n_docs, size=n_seeds, replace=False))


def expect_bulk(world: World, seeds: list[int]) -> tuple[Expected, list[int]]:
    """Round 1 waves every seed; the template's frontier is their distinct
    unseen targets. The timed op (round 2) waves that whole frontier, so its
    counters are set arithmetic over the citation map. Returns the op's
    expectation and its wave (doc numbers, dangling ones >= n_docs)."""
    n = world.spec.n_docs
    seen = set(seeds)
    frontier1 = {int(j) for i in seeds for j in world.cites[i]} - seen
    wave = sorted(frontier1)
    fetched = [i for i in wave if i < n]
    targets = world.cites[fetched].ravel() if fetched else np.zeros(0, dtype=np.int64)
    known = seen | frontier1
    new = {int(j) for j in targets} - known
    exp = Expected(
        waved=len(wave),
        processed=len(fetched),
        failed=len(wave) - len(fetched),
        links=int(targets.size),
        frontier_size=len(new),
    )
    return exp, wave


def expect_polite(world: World, per_round_wave: int) -> Expected:
    """Every document is seeded and every host's budget binds, so each round
    waves exactly ``per_round_wave`` documents whatever their priority. Every
    in-world citation is already queued or seen, so the frontier only shrinks;
    each waved document adds its own denied ids."""
    s = world.spec
    return Expected(
        waved=per_round_wave,
        processed=per_round_wave,
        failed=0,
        links=per_round_wave * (s.n_cite + s.n_dangle),
        frontier_size=s.n_docs - 2 * per_round_wave,
        robots_denied=per_round_wave * s.n_dangle,
    )
