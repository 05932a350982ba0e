"""``curation_batch``: one LLM-data curation pipeline, run repeatedly.

Each job runs ``operators.dedup.exact_duplicates`` ->
``minhash_lsh_pairs`` -> ``connected_components`` ->
``operators.textstats.quality_scores`` ->
``operators.similarity.ivf_topk`` -> ``operators.retrieval.bm25_topk``
over the seeded ``documents`` and ``embeddings``; each stage writes
parquet under the run's directory. The IVF index is built once during
set-up, and set-up runs the whole pipeline once untimed, so the timed
jobs pay neither first-use code generation nor JIT compilation. A run
does ``JOBS`` jobs per 10 s of ``--seconds``, so every run of a seed
does the same work; one client, closed loop.

Outside the timed window, every near-duplicate pair the MinHash stage
reports is re-verified with exact shingle Jaccard, and the recall of
the MinHash stage against all exact pairs above the threshold and the
recall@10 of the IVF stage against exact cosine top-10 are computed;
the run fails when either recall falls below its floor. Exact dedup
and connected components are checked against a plain replay, the
quality gate and BM25 top-10 against restatements of the operators'
definitions.
"""

from __future__ import annotations

import math
import os
import re
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

from common import RunContext, RunResult, median
from datagen import NEARDUP_THRESHOLD

K = 10
#: below these the approximate stages are losing results, not just
#: time: MinHash with 16 bands of 2 rows finds a pair at Jaccard 0.7
#: with probability 1 - (1 - 0.7**2)**16 > 0.9999
NEARDUP_RECALL_FLOOR = 0.95
ANN_RECALL_FLOOR = 0.9
#: jobs per 10 s of ``--seconds``, so the median job time is not one
#: sample
JOBS = 2
#: ``operators.textstats.STOPWORDS``, restated
QUALITY_STOPWORDS = ("the", "a", "of", "and", "to", "in")
#: BM25 parameters of ``operators.retrieval``
BM25_K1, BM25_B = 1.2, 0.75
#: a BM25 score is a sum of at most a few terms, each rounded to 9
#: decimals; rounding ties may fall differently here and in Spark
SCORE_TOL = 1e-8
STAGES = ("exact_duplicates", "minhash_lsh_pairs", "connected_components",
          "quality_scores", "ivf_topk", "bm25_topk")

#: input parts from datagen
INPUTS = ("curation",)


def shingles(text: str) -> frozenset[str]:
    """Distinct word bigrams, split on single spaces like
    ``operators.dedup.word_shingles``."""
    toks = text.split(" ")
    return frozenset(f"{a} {b}" for a, b in zip(toks, toks[1:]))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def exact_pairs(sets: dict[int, frozenset], threshold: float) -> set[tuple[int, int]]:
    """Every pair with Jaccard >= threshold, by prefix filtering: two
    sets that reach the threshold share a token among the first
    ``|s| - ceil(t * |s|) + 1`` tokens of each in one global order."""
    freq = Counter(tok for s in sets.values() for tok in s)
    index: dict[str, list[int]] = defaultdict(list)
    out = set()
    for i in sorted(sets):
        toks = sorted(sets[i], key=lambda t: (freq[t], t))
        if not toks:
            continue
        prefix = toks[:len(toks) - math.ceil(threshold * len(toks)) + 1]
        cands = {j for tok in prefix for j in index[tok]}
        for j in cands:
            if jaccard(sets[i], sets[j]) >= threshold:
                out.add((j, i))
        for tok in prefix:
            index[tok].append(i)
    return out


def _components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _read(path: str):
    return pq.read_table(path).to_pandas()


def check_pairs(sets: dict[int, frozenset], pairs) -> tuple[list[str], set, float]:
    """Re-verify every reported pair with exact Jaccard and measure the
    recall against all exact pairs at or above the threshold."""
    problems = []
    found = set()
    for a, b, sim in zip(pairs.id_a, pairs.id_b, pairs.jaccard_sim):
        a, b = int(a), int(b)
        found.add((a, b))
        true = jaccard(sets[a], sets[b])
        if abs(true - sim) > 1e-9 or true < NEARDUP_THRESHOLD:
            problems.append(f"pair ({a}, {b}) reported {sim}, exact Jaccard {true}")
    truth = exact_pairs(sets, NEARDUP_THRESHOLD)
    recall = len(found & truth) / len(truth) if truth else 1.0
    if recall < NEARDUP_RECALL_FLOOR:
        problems.append(f"near-dup recall {recall:.3f} < {NEARDUP_RECALL_FLOOR}")
    return problems, found, recall


def ann_recall(corpus_ids, corpus: np.ndarray, query_ids, queries: np.ndarray,
               got: dict) -> tuple[list[str], float]:
    """recall@K of ``got`` (query id -> neighbour ids) against exact
    cosine top-K."""
    problems = []
    corpus = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    queries = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = queries @ corpus.T
    ids = np.asarray(corpus_ids)
    hits = 0
    for qi, qid in enumerate(query_ids):
        top = set(ids[np.argsort(-sims[qi], kind="stable")[:K]])
        res = got.get(qid, set())
        if len(res) > K:
            problems.append(f"ivf_topk returned {len(res)} neighbours for query {qid}")
        hits += len(top & res)
    recall = hits / (K * len(query_ids))
    if recall < ANN_RECALL_FLOOR:
        problems.append(f"ANN recall@10 {recall:.3f} < {ANN_RECALL_FLOOR}")
    return problems, recall


def passes_quality(text: str) -> bool:
    """The gate of ``operators.textstats.quality_scores``: at least 20
    tokens (split on single spaces), at least half of them distinct,
    and at least one stopword."""
    toks = text.split(" ")
    return (len(toks) >= 20 and 2 * len(set(toks)) >= len(toks)
            and any(t in QUALITY_STOPWORDS for t in toks))


def check_quality(texts: dict[int, str], survivors: set[int], quality) -> tuple[list[str], set]:
    """The quality stage must score exactly the survivors and pass
    exactly the documents the gate passes; returns the problems and the
    passing ids."""
    good = {d for d in survivors if passes_quality(texts[d])}
    if set(quality.doc_id.astype(int)) != survivors:
        return [f"quality_scores scored {len(quality)} docs, expected the "
                f"{len(survivors)} survivors"], good
    got = set(quality.doc_id[quality.passes_quality].astype(int))
    if got != good:
        return [f"passes_quality differs on {len(got ^ good)} docs"], good
    return [], good


def bm25_ref(corpus: dict[int, str], queries: dict[int, str]) -> dict[int, dict[int, float]]:
    """Per query, the BM25 score of every document sharing a term with
    it, restated from ``operators.retrieval``: tokens split on single
    spaces with empty ones dropped, a repeated query term counted once,
    and each term's idf x saturation rounded to 9 decimals before the
    sum."""
    tf = {d: Counter(t for t in text.split(" ") if t) for d, text in corpus.items()}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n = len(tf)
    avgdl = sum(dl.values()) / n
    df = Counter(term for c in tf.values() for term in c)
    out = {}
    for qid, query in queries.items():
        terms = {t for t in query.split(" ") if t}
        scores = {}
        for d, c in tf.items():
            parts = []
            for term in terms & c.keys():
                idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
                sat = (c[term] * (BM25_K1 + 1)) / (
                    c[term] + BM25_K1 * ((1 - BM25_B) + BM25_B * dl[d] / avgdl))
                parts.append(round(idf * sat, 9))
            if parts:
                scores[d] = sum(parts)
        out[qid] = scores
    return out


def check_bm25(corpus: dict[int, str], queries: dict[int, str], hits) -> list[str]:
    """Each query's hits must be a top-K of the reference scores (ties
    at the cut may go either way), with the reference's scores, ranked
    1..n by score then doc id."""
    problems = []
    by_qid = {int(q): g.sort_values("rank") for q, g in hits.groupby("qid")}
    for qid, ref in bm25_ref(corpus, queries).items():
        g = by_qid.get(qid)
        ids = [] if g is None else [int(d) for d in g.doc_id]
        scores = [] if g is None else [float(x) for x in g.score]
        ranked = g is None or list(g["rank"]) == list(range(1, len(g) + 1))
        ordered = all(a > b or (a == b and da < db) for a, b, da, db in
                      zip(scores, scores[1:], ids, ids[1:]))
        if len(ids) != min(K, len(ref)) or not ranked or not ordered:
            problems.append(f"bm25_topk query {qid}: {len(ids)} hits, expected a ranked "
                            f"top-{min(K, len(ref))}")
            continue
        wrong = [d for d, x in zip(ids, scores)
                 if d not in ref or abs(ref[d] - x) > SCORE_TOL]
        cut = min(scores, default=math.inf)
        better = [d for d, x in ref.items() if d not in ids and x > cut + SCORE_TOL]
        if wrong or better:
            problems.append(f"bm25_topk query {qid}: wrong scores for {wrong[:3]}, "
                            f"missed better docs {better[:3]}")
    return problems


def check_job(job_dir: str, data_dir: str) -> tuple[list[str], dict[str, float]]:
    """Problems found in one job's outputs, and the recall figures."""
    problems: list[str] = []
    docs = _read(os.path.join(data_dir, "documents.parquet"))
    norm = docs.text.map(lambda t: re.sub(r"\s+", " ", t).strip().lower())
    keep = docs.groupby(norm).doc_id.min()
    exact = _read(os.path.join(job_dir, "exact_duplicates"))
    if sorted(exact.keep_id) != sorted(keep):
        problems.append(f"exact_duplicates kept {len(exact)} docs, expected {len(keep)}")

    kept = docs[docs.doc_id.isin(set(keep))]
    texts = {int(i): t for i, t in zip(kept.doc_id, kept.text)}
    sets = {i: shingles(t) for i, t in texts.items()}
    found_problems, found, neardup_recall = check_pairs(
        sets, _read(os.path.join(job_dir, "minhash_lsh_pairs")))
    problems += found_problems

    cc = _read(os.path.join(job_dir, "connected_components"))
    want_cc = _components(found)
    got_cc = dict(zip(cc.node.astype(int), cc.component.astype(int)))
    if got_cc != want_cc:
        problems.append("connected_components differ from union-find over the pairs")
    survivors = set(texts) - {n for n, c in want_cc.items() if n != c}
    quality_problems, good = check_quality(
        texts, survivors, _read(os.path.join(job_dir, "quality_scores")))
    problems += quality_problems

    emb = _read(os.path.join(data_dir, "embeddings.parquet"))
    qs = _read(os.path.join(data_dir, "ann_queries.parquet"))
    ann = _read(os.path.join(job_dir, "ivf_topk"))
    ann_problems, recall = ann_recall(
        emb.vec_id, np.stack(emb.embedding.to_numpy()).astype("float64"),
        qs.vec_id, np.stack(qs.embedding.to_numpy()).astype("float64"),
        ann.groupby("query_id").neighbor_id.apply(set).to_dict())
    problems += ann_problems

    bq = _read(os.path.join(data_dir, "bm25_queries.parquet"))
    problems += check_bm25({d: texts[d] for d in good},
                           dict(zip(bq.qid.astype(int), bq.qtext)),
                           _read(os.path.join(job_dir, "bm25_topk")))
    return problems, {"neardup_recall": neardup_recall, "ann_recall_at_10": recall,
                      "neardup_pairs": float(len(found))}


def run(ctx: RunContext) -> RunResult:
    sut = ctx.sut
    started = sut.started()
    work = ctx.path("curation")
    sut.call("setup_curation", timeout=150, data_dir=ctx.data_dir, work_dir=work)
    sut.call("window_start")
    ready = time.monotonic()

    jobs: list[dict] = []
    lat: list[float] = []
    t0 = time.monotonic()
    for _ in range(max(1, round(ctx.seconds / 10 * JOBS))):
        job_dir = os.path.join(work, f"job{len(jobs)}")
        t = time.perf_counter()
        out = sut.call("curation_job", job_dir=job_dir)
        lat.append((time.perf_counter() - t) * 1000)
        out["dir"] = job_dir
        jobs.append(out)
    window = time.monotonic() - t0

    errors: list[str] = []
    failed = 0
    figures: dict[str, float] = {}
    for job in jobs:
        problems, figures = check_job(job["dir"], ctx.data_dir)
        failed += bool(problems)
        errors += problems
    job_s = median([j["job_s"] for j in jobs])
    result = RunResult(
        end_to_end={
            "ops_per_s": len(jobs) / window,
            "op_p50_ms": median(lat),
        },
        attempted=len(jobs),
        failed=failed,
        ready_at=ready,
        window_s=window,
        errors=errors,
        info={
            "job_s": (job_s, "s"),
            "ann_recall_at_10": (figures["ann_recall_at_10"], "ratio"),
            "neardup_recall": (figures["neardup_recall"], "ratio"),
            "jobs": (len(jobs), "count"),
        },
    )
    if ctx.trace:
        sut_trace = sut.call("trace", path=ctx.path("trace-sut.jsonl"))
        s = sut_trace["summary"]
        result.per_layer = {
            "session.start_s": started["session_start_s"],
            "sources.load_ms": s.get("sources.load", {}).get("total_ms", 0.0),
            "operators.build_ivf_index_s":
                s.get("operators.build_ivf_index", {}).get("total_ms", 0.0) / 1000,
            **{f"operators.{st}_s": median([j["stages"][st] for j in jobs]) for st in STAGES},
            "operators.neardup_pairs": figures["neardup_pairs"],
        }
        result.spans = sut_trace["span_count"]
    return result
