"""Seeded inputs and their numpy ground truth.

Two generators:

- ``make_catalog``: a product catalog in the reference layout —
  ``reviews.csv`` with dotted column names, ~25% null ratings and quoted
  multi-line bodies, plus a row-aligned unit-norm ``review_embeddings.npy``.
  The truth side rebuilds products and product vectors with pandas/numpy.
- ``make_corpus``: a clustered ANN corpus written as ``embeddings.parquet``
  (the layout ``sources.tables.load_table`` reads) plus query batches.

Everything here is numpy/pandas; nothing asks the engine for an answer.
Exact top-k follows the engine's documented order: scores rounded to 6
decimals, then (score desc, id asc).
"""

from __future__ import annotations

import csv
import hashlib
import os
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

DIM = 384
DECIMALS = 6
BRANDS = ("Amazon", "AmazonBasics", "Amazon Fire", "Kindle", "Echo", "Fire TV")
CATEGORIES = (
    "Electronics", "Tablets", "E-Readers", "Smart Home", "Streaming Media",
    "Computers", "Batteries", "Accessories", "Speakers", "Headphones",
)
# A small vocabulary: every text and free-text query draws from it, so the
# TF-IDF side always has overlapping terms.
VOCAB = tuple(
    "kindle fire tablet reader screen battery light charge speaker alexa "
    "sound music voice remote stream video movie game kids parental book "
    "page font paper white glare travel case cover cable charger fast slow "
    "great good bad poor love hate easy hard price value gift daughter son "
    "wife husband home office bedroom kitchen wifi bluetooth setup update "
    "app store storage memory card quality display color bright dim "
    "weather timer alarm news podcast audio volume bass clear".split()
)
FILLER = ("the", "a", "and", "it", "is", "for", "with", "this", "to", "of")


# -- shared numpy helpers ----------------------------------------------------


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def topk(ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k of one query: scores rounded to 6 decimals, then
    (score desc, id asc)."""
    s = np.round(scores, DECIMALS)
    if len(s) > k:  # only rows tied with or above the k-th best score can rank
        sel = np.nonzero(s >= -np.partition(-s, k - 1)[k - 1])[0]
        ids, s = ids[sel], s[sel]
    order = np.lexsort((ids, -s))[:k]
    return ids[order], s[order]


def topk_batch(
    ids: np.ndarray, mat: np.ndarray, queries: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k for every query row: (q, k) ids and rounded scores."""
    out_i = np.empty((len(queries), k), dtype=ids.dtype)
    out_s = np.empty((len(queries), k))
    scores = mat @ queries.T
    for j in range(len(queries)):
        out_i[j], out_s[j] = topk(ids, scores[:, j], k)
    return out_i, out_s


def hash_embed(text: str, dim: int = DIM) -> np.ndarray:
    """The engine's default query encoder, re-derived: token -> 60-bit md5
    int h; bucket h % dim; sign + iff (h // dim) is even; l2-normalized."""
    v = np.zeros(dim)
    for w in (text or "").lower().split():
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        v[h % dim] += 1.0 if (h // dim) % 2 == 0 else -1.0
    return v / (np.linalg.norm(v) + 1e-12)


# -- catalog (serve, ingest) -------------------------------------------------


@dataclass
class Catalog:
    ref_dir: str
    reviews: pd.DataFrame  # file order; review_idx == row position
    review_vecs: np.ndarray  # (n_reviews, DIM) float64 of the stored float32
    products: pd.DataFrame  # id, brand, n_reviews, avg_rating, example_text
    product_vecs: np.ndarray  # aligned with products.id
    _tfidf: tuple | None = field(default=None, repr=False)

    @property
    def n_reviews(self) -> int:
        return len(self.reviews)

    def candidates(self, brand: str = "All", min_rating: float = 0.0, min_reviews: int = 0) -> np.ndarray:
        """Boolean mask over products, with the app's null handling."""
        p = self.products
        keep = p["avg_rating"].fillna(-1.0).to_numpy() >= float(min_rating)
        keep &= p["n_reviews"].to_numpy() >= int(min_reviews)
        if brand != "All":
            keep &= (p["brand"].str.lower() == brand.lower()).to_numpy()
        return keep

    def search_scores(self, text: str, mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(candidate ids, dense scores) of a free-text query."""
        ids = self.products["id"].to_numpy()
        return ids[mask], np.round(self.product_vecs @ hash_embed(text), DECIMALS)[mask]

    def hybrid_scores(self, text: str, mask: np.ndarray, alpha: float) -> tuple[np.ndarray, np.ndarray]:
        """alpha*dense + (1-alpha)*minmax(tfidf) — TF-IDF cosine over the
        whole catalog, min-max over the candidates, dense side raw."""
        ids, dense = self.search_scores(text, mask)
        ts = self._tfidf_scores(text)[mask]
        mn, mx = ts.min(), ts.max()
        scaled = (ts - mn) / (mx - mn + 1e-12) if mx > mn else ts
        return ids, np.round(alpha * dense + (1.0 - alpha) * scaled, DECIMALS)

    def similar_scores(self, pid: str) -> tuple[np.ndarray, np.ndarray]:
        """Every other product scored against ``pid``'s vector."""
        ids = self.products["id"].to_numpy()
        i = int(np.nonzero(ids == pid)[0][0])
        keep = ids != pid
        return ids[keep], np.round(self.product_vecs @ self.product_vecs[i], DECIMALS)[keep]

    def compare(self, pids: list[str]) -> np.ndarray:
        pos = {p: i for i, p in enumerate(self.products["id"])}
        v = self.product_vecs[[pos[p] for p in pids]]
        return np.round(v @ v.T, DECIMALS)

    def review_scores(self, q_idx: int) -> tuple[np.ndarray, np.ndarray]:
        """Every other review scored against review ``q_idx``."""
        ids = np.arange(self.n_reviews)
        keep = ids != q_idx
        return ids[keep], np.round(self.review_vecs @ self.review_vecs[q_idx], DECIMALS)[keep]

    # sklearn-style smooth-idf TF-IDF over example_text (stop words: the
    # engine's default list, passed in by the caller)
    def fit_tfidf(self, stopwords) -> None:
        pat = re.compile(r"\w\w+", flags=re.ASCII)
        stop = frozenset(stopwords)
        docs = [
            [w for w in pat.findall((t or "").lower()) if w not in stop]
            for t in self.products["example_text"]
        ]
        vocab = sorted({w for d in docs for w in d})
        col = {w: j for j, w in enumerate(vocab)}
        tf = np.zeros((len(docs), len(vocab)))
        for i, d in enumerate(docs):
            for w in d:
                tf[i, col[w]] += 1
        n = len(docs)
        idf = np.log((1 + n) / (1 + (tf > 0).sum(axis=0))) + 1.0
        w = tf * idf
        nrm = np.linalg.norm(w, axis=1, keepdims=True)
        w = np.divide(w, nrm, out=np.zeros_like(w), where=nrm > 0)
        self._tfidf = (pat, stop, col, idf, np.round(w, 12))

    def tfidf_query(self, text: str) -> dict[str, float]:
        """The query's (term -> weight) under the fitted idf; unseen terms
        drop out."""
        pat, stop, col, idf, _ = self._tfidf
        counts: dict[str, int] = {}
        for t in pat.findall((text or "").lower()):
            if t not in stop and t in col:
                counts[t] = counts.get(t, 0) + 1
        raw = {t: c * idf[col[t]] for t, c in counts.items()}
        nrm = np.sqrt(sum(v * v for v in raw.values()))
        return {t: v / nrm for t, v in raw.items()}

    def _tfidf_scores(self, text: str) -> np.ndarray:
        _, _, col, _, w = self._tfidf
        ts = np.zeros(len(self.products))
        for t, qw in self.tfidf_query(text).items():
            ts += w[:, col[t]] * qw
        return ts


def _words(rng: np.random.Generator, n: int, topic: np.ndarray) -> str:
    """n words, ~60% from the product's topic words, some filler."""
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.6:
            out.append(VOCAB[rng.choice(topic)])
        elif r < 0.8:
            out.append(FILLER[rng.integers(len(FILLER))])
        else:
            out.append(VOCAB[rng.integers(len(VOCAB))])
    return " ".join(out)


def make_catalog(seed: int, out_dir: str, *, n_products: int, n_reviews: int) -> Catalog:
    """Write reviews.csv + review_embeddings.npy under ``out_dir`` and return
    the catalog with its ground truth."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pids = np.array(sorted({"B0" + "".join(rng.choice(list("0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"), 8)) for _ in range(n_products)}))
    n_products = len(pids)
    brand = rng.choice(len(BRANDS), n_products)
    topics = [rng.choice(len(VOCAB), 8, replace=False) for _ in range(n_products)]
    centers = unit_rows(rng.standard_normal((n_products, DIM)))
    # every product gets >= 1 review; the rest follow a skewed popularity
    pop = rng.zipf(1.6, n_products).astype(float)
    owner = np.concatenate([
        np.arange(n_products),
        rng.choice(n_products, n_reviews - n_products, p=pop / pop.sum()),
    ])
    rng.shuffle(owner)  # a product's reviews are scattered through the file
    rows = []
    for o in owner:
        title = _words(rng, int(rng.integers(2, 6)), topics[o])
        body = _words(rng, int(rng.integers(8, 30)), topics[o])
        r = rng.random()
        if r < 0.15:  # a quoted, multi-line body with embedded quotes/commas
            body = body.replace(" ", "\n", 2) + ', "really" ' + _words(rng, 3, topics[o])
        elif r < 0.25:
            body = body + ",\n" + _words(rng, 4, topics[o])
        b = BRANDS[brand[o]]
        combined = re.sub(r"\s+", " ", f"{title} {body} {b}".lower()).strip()
        rating = float(rng.integers(1, 6)) if rng.random() >= 0.25 else np.nan
        cats = ",".join(sorted(rng.choice(CATEGORIES, int(rng.integers(1, 4)), replace=False)))
        rows.append((pids[o], pids[o] + ",B0ALT" + pids[o][-4:], b, cats, title, body, rating, combined))
    reviews = pd.DataFrame(rows, columns=[
        "id", "asins", "brand", "categories", "reviews.title", "reviews.text",
        "reviews.rating", "combined_text",
    ])
    reviews.to_csv(f"{out_dir}/reviews.csv", index=False, quoting=csv.QUOTE_MINIMAL)
    vecs = centers[owner] + 0.8 * rng.standard_normal((n_reviews, DIM)) / np.sqrt(DIM)
    vecs32 = unit_rows(vecs).astype(np.float32)
    np.save(f"{out_dir}/review_embeddings.npy", vecs32)
    review_vecs = vecs32.astype(np.float64)

    g = reviews.groupby("id", sort=True)  # first() keeps file order
    products = pd.DataFrame({
        "brand": g["brand"].first(),
        "n_reviews": g.size(),
        "avg_rating": g["reviews.rating"].mean(),
        "example_text": g["combined_text"].first(),
    }).reset_index()
    sums = np.zeros((n_products, DIM))
    pos = {p: i for i, p in enumerate(products["id"])}
    np.add.at(sums, [pos[p] for p in reviews["id"]], review_vecs)
    means = sums / products["n_reviews"].to_numpy()[:, None]
    return Catalog(out_dir, reviews, review_vecs, products, unit_rows(means))


# -- ANN corpus (batch) ------------------------------------------------------


@dataclass
class Corpus:
    sf_dir: str  # holds embeddings.parquet
    ids: np.ndarray
    vecs: np.ndarray  # float64 of the stored float32
    queries: np.ndarray  # (q, DIM) float64
    truth: np.ndarray  # (q, k) exact top-k ids


def make_corpus(seed: int, out_dir: str, *, n: int, n_clusters: int, n_queries: int, k: int) -> Corpus:
    """A clustered unit-norm corpus, a query batch drawn near corpus rows,
    and the numpy exact top-k of every query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    centers = unit_rows(rng.standard_normal((n_clusters, DIM)))
    # uneven clusters, so IVF list lengths vary as in real data: sizes fall
    # geometrically to a tenth of the largest. The profile is fixed and the
    # seed only decides which center gets which size, so ANN recall does
    # not swing with the draw of the sizes.
    w = rng.permutation(np.geomspace(1.0, 0.1, n_clusters))
    label = rng.choice(n_clusters, n, p=w / w.sum())
    vecs32 = unit_rows(centers[label] + 0.9 * rng.standard_normal((n, DIM)) / np.sqrt(DIM)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs32.ravel()), DIM).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"vec_id": ids, "embedding": emb, "label": label.astype(np.int32)}),
        f"{out_dir}/embeddings.parquet",
    )
    vecs = vecs32.astype(np.float64)
    src = rng.choice(n, n_queries, replace=False)
    queries = unit_rows(vecs[src] + 0.5 * rng.standard_normal((n_queries, DIM)) / np.sqrt(DIM))
    return Corpus(out_dir, ids, vecs, queries, topk_batch(ids, vecs, queries, k)[0])
