"""Seeded inputs for the perfbench workloads.

Every input comes from ``numpy.random.default_rng([seed, stream, index])``,
so one ``--seed`` fixes every micro-batch, fact row, DML predicate, document
and vector, and any piece can be regenerated on its own. Each generator also
returns the values the workloads check the engine's answers against.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# stream ids for default_rng([seed, stream, index])
_BATCH, _FACT, _DML, _CORPUS, _VOCAB, _VECTORS, _QUERIES, _PINS = range(8)

FACT_REGIONS = 8
FACT_CUSTOMERS = 5_000
# a deletion-vector delete removes one cohort of customers, 1% of the
# rows, spread over every file; one customer's rows would hit a varying
# number of files and make the delete's cost depend on the seed
DV_COHORTS = 100
DOC_WORDS = 60
VOCAB_SIZE = 5_000
VECTOR_DIM = 64


def _rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


# -- table_mix ----------------------------------------------------------------

STREAM_DAYS = 4


def stream_batch(seed: int, index: int, rows: int) -> pa.Table:
    """Micro-batch ``index`` of the event stream: ``rows`` rows with
    global ``seq`` ids continuing the previous batches, spread over
    ``STREAM_DAYS`` days."""
    rng = _rng(seed, _BATCH, index)
    return pa.table({
        "batch": pa.array(np.full(rows, index, dtype=np.int64)),
        "seq": pa.array(np.arange(index * rows, (index + 1) * rows,
                                  dtype=np.int64)),
        "day": pa.array(rng.integers(0, STREAM_DAYS, rows)),
        "value": pa.array(rng.random(rows)),
    })


def pinned_version(seed: int, index: int, head: int) -> int:
    """A seeded older version in ``[0, head - 1]`` for time-travel opens."""
    return int(_rng(seed, _PINS, index).integers(0, max(head, 1)))


@dataclass
class FactModel:
    """The fact table of ``table_mix`` as numpy columns: the oracle every
    scan and DML step is checked against."""

    id: np.ndarray
    region: np.ndarray
    cust: np.ndarray
    qty: np.ndarray

    def mask(self, lo_id: int = None, hi_id: int = None,
             region: int = None, cohort: int = None) -> np.ndarray:
        m = np.ones(len(self.id), dtype=bool)
        if lo_id is not None:
            m &= (self.id >= lo_id) & (self.id <= hi_id)
        if region is not None:
            m &= self.region == region
        if cohort is not None:
            m &= self.cust % DV_COHORTS == cohort
        return m

    def append(self, t: pa.Table) -> None:
        self.id = np.concatenate([self.id, t["id"].to_numpy()])
        self.region = np.concatenate([self.region, t["region"].to_numpy()])
        self.cust = np.concatenate([self.cust, t["cust"].to_numpy()])
        self.qty = np.concatenate([self.qty, t["qty"].to_numpy()])

    def keep(self, m: np.ndarray) -> None:
        self.id, self.region, self.cust, self.qty = (
            self.id[m], self.region[m], self.cust[m], self.qty[m])

    def region_totals(self) -> dict[int, tuple[int, int]]:
        """region -> (row count, sum of qty)."""
        cnt = np.bincount(self.region, minlength=FACT_REGIONS)
        tot = np.bincount(self.region, weights=self.qty,
                          minlength=FACT_REGIONS)
        return {r: (int(cnt[r]), int(tot[r]))
                for r in range(FACT_REGIONS) if cnt[r]}


def _fact_rows(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table({
        "id": ids,
        "region": rng.integers(0, FACT_REGIONS, n, dtype=np.int64),
        "cust": rng.integers(0, FACT_CUSTOMERS, n, dtype=np.int64),
        "qty": rng.integers(1, 101, n, dtype=np.int64),
        "price": rng.random(n) * 100,
    })


def fact_table(seed: int, rows: int) -> tuple[pa.Table, FactModel]:
    """The bulk-loaded fact table. ``id`` follows write order, so files
    carry tight id ranges and id predicates prune."""
    table = _fact_rows(_rng(seed, _FACT), np.arange(rows, dtype=np.int64))
    model = FactModel(np.empty(0, np.int64), np.empty(0, np.int64),
                      np.empty(0, np.int64), np.empty(0, np.int64))
    model.append(table)
    return table, model


@dataclass
class DmlRound:
    """Seeded arguments of one round of DML statements."""

    cow_lo: int          # delete copy-on-write: id BETWEEN cow_lo AND cow_hi
    cow_hi: int
    point_id: int        # an id inside the copy-on-write range
    dv_cohort: int       # delete with deletion vectors: cust % 100 = cohort
    upd_region: int      # update: qty + 1 WHERE region AND id range
    upd_lo: int
    upd_hi: int
    merge_source: pa.Table


def dml_round(seed: int, index: int, rows: int, merge_rows: int,
              next_id: int) -> DmlRound:
    """DML arguments of round ``index`` over a fact table bulk-loaded
    with ``rows`` rows; merge inserts take ids from ``next_id`` upward."""
    rng = _rng(seed, _DML, index)
    span = max(rows // 200, 1)

    def lo() -> int:
        return int(rng.integers(0, max(rows - span, 1)))

    c_lo = lo()
    point_id = c_lo + int(rng.integers(0, span))
    dv_cohort = int(rng.integers(0, DV_COHORTS))
    ur = int(rng.integers(0, FACT_REGIONS))
    u_lo = lo()
    # half the merge source corrects ids in one window of the bulk load
    # (ids already deleted turn into inserts), half inserts new ids
    half = merge_rows // 2
    w_lo = lo()
    upd_ids = w_lo + rng.choice(span, min(half, span), replace=False)
    new_ids = np.arange(next_id, next_id + merge_rows - len(upd_ids))
    src = _fact_rows(rng, np.concatenate([upd_ids, new_ids]).astype(np.int64))
    return DmlRound(c_lo, c_lo + span, point_id, dv_cohort, ur, u_lo,
                    u_lo + span, src)


def apply_merge(model: FactModel, src: pa.Table) -> None:
    """MERGE ON id: matched rows take the source qty (other columns
    kept), unmatched source rows are inserted."""
    s_id = src["id"].to_numpy()
    s_qty = src["qty"].to_numpy()
    order = np.argsort(model.id, kind="stable")
    pos = np.minimum(np.searchsorted(model.id[order], s_id),
                     len(order) - 1)
    matched = model.id[order[pos]] == s_id
    model.qty[order[pos[matched]]] = s_qty[matched]
    new = ~matched
    model.id = np.concatenate([model.id, s_id[new]])
    model.region = np.concatenate(
        [model.region, src["region"].to_numpy()[new]])
    model.cust = np.concatenate([model.cust, src["cust"].to_numpy()[new]])
    model.qty = np.concatenate([model.qty, s_qty[new]])


# -- llm_dedup_pipeline -------------------------------------------------------

@dataclass
class CorpusBatch:
    """One batch of documents with its planted duplicates recorded."""

    table: pa.Table                     # doc_id, text
    n_unique: int                       # distinct texts after normalization
    near_pairs: set[tuple[int, int]]    # (original id, near-duplicate id)
    n_keepers: int                      # survivors of exact + near dedup


def _vocab(seed: int) -> np.ndarray:
    rng = _rng(seed, _VOCAB)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, VOCAB_SIZE)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


def corpus_batch(seed: int, index: int, docs: int,
                 dup_share: float = 0.1) -> CorpusBatch:
    """``docs`` word-salad documents; the last ``2 * dup_share`` of them
    copy earlier originals. Exact duplicates differ only in case,
    spacing and a trailing zero-width space (normalization makes them
    identical); near duplicates swap
    the final word, which leaves their word-3-shingle Jaccard at about
    0.97. Originals of the two kinds are disjoint, so every planted
    group has exactly two members and the lower id survives."""
    rng = _rng(seed, _CORPUS, index)
    vocab = _vocab(seed)
    n_dup = int(docs * dup_share)
    n_orig = docs - 2 * n_dup
    words = rng.integers(0, len(vocab), (n_orig, DOC_WORDS))
    texts = [" ".join(vocab[w]) for w in words]
    origs = rng.choice(n_orig, 2 * n_dup, replace=False)
    base = index * docs
    near_pairs = set()
    for o in origs[:n_dup]:                      # exact duplicates
        texts.append("  ".join(vocab[words[o]]).upper() + "\u200b")
    for o in origs[n_dup:]:                      # near duplicates
        w = words[o].copy()
        w[-1] = (w[-1] + 1 + rng.integers(0, len(vocab) - 1)) % len(vocab)
        near_pairs.add((base + int(o), base + len(texts)))
        texts.append(" ".join(vocab[w]))
    table = pa.table({
        "doc_id": pa.array(np.arange(base, base + docs, dtype=np.int64)),
        "text": pa.array(texts),
    })
    return CorpusBatch(table, docs - n_dup, near_pairs, docs - 2 * n_dup)


def vectors(seed: int, n: int) -> np.ndarray:
    return _rng(seed, _VECTORS).standard_normal((n, VECTOR_DIM))


def vector_table(vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, VECTOR_DIM,
                               dtype=np.int32)), flat),
    })


def query_vector(seed: int, index: int, vecs: np.ndarray) -> np.ndarray:
    """A corpus vector plus noise, so the top-k is non-trivial."""
    rng = _rng(seed, _QUERIES, index)
    base = vecs[int(rng.integers(0, len(vecs)))]
    return base + 0.5 * rng.standard_normal(VECTOR_DIM)


def topk_oracle(vecs: np.ndarray, q: np.ndarray, k: int
                ) -> tuple[list[int], np.ndarray]:
    """Exact cosine top-k, ties to the lower id."""
    scores = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(vecs)), -scores))[:k]
    return [int(i) for i in order], scores[order]
