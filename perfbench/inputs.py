"""Seeded input generator.

Everything a workload feeds the program comes from here and from the
seed: the analyst scripts, the 8x lineitem table and the
near-duplicate curation corpus. The generator only reads
the read-only star-schema fixtures; generated files go to the run's
work directory and are deleted when the run ends.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
SF_DIR = os.path.join(TESTDATA, "sf0.1")
# the report jobs run at sf0.01: at sf0.1 one pass of the 27 jobs takes
# ~35 s on 4 cores, more than the run budget allows
REPORT_SF_DIR = os.path.join(TESTDATA, "sf0.01")

# Value domains of the sf0.1 lineitem/orders columns the scripts
# filter and sketch (read from the fixture once; they are fixed data).
NUMERIC_DOMAINS = {
    "lineitem": {
        "l_quantity": (1.0, 50.0),
        "l_extendedprice": (900.68, 104999.91),
        "l_discount": (0.0, 0.1),
        "l_tax": (0.0, 0.08),
    },
    "orders": {"o_totalprice": (1001.91, 499993.18)},
}


@dataclass
class Op:
    """One analyst interaction: a view (base table + filter stack) and
    the sketch run on it. ``start_from`` names an earlier page op whose
    last row anchors this page (a scroll)."""

    key: str
    table: str
    filters: tuple
    kind: str
    args: dict = field(default_factory=dict)
    start_from: str | None = None


# ------------------------------------------------------------ scripts


def _window(rng: random.Random, table: str, col: str, lo_frac: float,
            hi_frac: float) -> tuple[float, float]:
    """A zoom window covering lo_frac..hi_frac of the column's range,
    snapped to 2 decimals (the data's own grid)."""
    mn, mx = NUMERIC_DOMAINS[table][col]
    width = (mx - mn) * rng.uniform(lo_frac, hi_frac)
    lo = mn + rng.uniform(0.0, (mx - mn) - width)
    return round(lo, 2), round(lo + width, 2)


def session_script(seed: int, session: int, table: str = "lineitem",
                   with_orders: bool = True) -> list[Op]:
    """One Hillview-style exploration session of fourteen interactions.

    The sequence of sketch kinds is fixed and the seed only varies
    choices that cost about the same, so every session does about the
    same work: columns of similar cost, bucket counts, zoom and brush
    windows on the evenly spread columns (a zoom keeps ~40% of the
    rows, a brush ~20%), quantile probabilities and sort keys of low
    cardinality. Two interactions are the slow tail: exact quantiles
    over the brushed view and column statistics over the whole table."""
    rng = random.Random(f"{seed}/{session}/{table}")
    p = f"s{session}."
    num = list(NUMERIC_DOMAINS["lineitem"])
    even = ["l_quantity", "l_discount", "l_tax"]
    c1, c3 = rng.sample(even, 2)
    c2 = rng.choice([c for c in num if c != c1])
    b = rng.choice((20, 40, 60))
    zoom = (("range", c1, *_window(rng, "lineitem", c1, 0.38, 0.42)),)
    brush = zoom + (("brush", ((c3, *_window(rng, "lineitem", c3, 0.48, 0.52)),)),)
    sort_cols = rng.choice((
        ["l_returnflag", "l_linestatus", "l_quantity"],
        ["l_quantity", "l_discount"],
        ["l_discount", "l_tax", "l_returnflag"],
    ))
    probs = sorted(rng.sample((0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99), 3))
    ops = [
        Op(p + "summary", table, (), "table_summary"),
        Op(p + "hist", table, (), "histogram", {"col": c2, "buckets": b}),
        Op(p + "zoom_hist", table, zoom, "histogram", {"col": c2, "buckets": b}),
        Op(p + "heatmap", table, zoom, "histogram2d",
           {"x": c1, "y": c2, "xb": rng.choice((10, 20, 25)),
            "yb": rng.choice((10, 20, 25))}),
        Op(p + "page", table, brush, "next_k", {"sort_cols": sort_cols, "k": 20}),
        Op(p + "scroll", table, brush, "next_k", {"sort_cols": sort_cols, "k": 20},
           start_from=p + "page"),
        Op(p + "hh", table, zoom, "heavy_hitters",
           {"cols": rng.choice((["l_returnflag"], ["l_linestatus"],
                                ["l_returnflag", "l_linestatus"], ["l_quantity"])),
            "epsilon": rng.choice((0.01, 0.02, 0.05))}),
        Op(p + "approx_q", table, zoom, "quantiles_approx",
           {"col": "l_extendedprice", "probs": probs}),
        Op(p + "exact_q", table, brush, "quantiles",
           {"col": "l_extendedprice", "probs": probs}),
        Op(p + "distinct", table, zoom, "distinct_count",
           {"col": rng.choice(("l_orderkey", "l_partkey", "l_suppkey"))}),
        Op(p + "cdf", table, brush, "cdf", {"col": c2, "buckets": 100}),
        Op(p + "col_stats", table, (), "col_stats",
           {"cols": ["l_quantity", "l_extendedprice"]}),
        # zoom out: the same histogram as the second interaction (a
        # repeat whose result must reproduce the first one exactly)
        Op(p + "hist_again", table, (), "histogram", {"col": c2, "buckets": b}),
    ]
    if with_orders:
        ow = (("range", "o_totalprice",
               *_window(rng, "orders", "o_totalprice", 0.3, 0.6)),)
        ops.append(Op(p + "o_hh", "orders", ow, "heavy_hitters",
                      {"cols": [rng.choice(("o_orderpriority", "o_orderstatus"))],
                       "epsilon": 0.05}))
    return ops


# --------------------------------------------------- analysts' table


def write_lineitem_x(seed: int, out_dir: str, copies: int = 8) -> dict:
    """copies x sf0.1 lineitem as one file per copy. Each copy's rows
    are permuted by the seed and its order keys shifted into a range
    of its own, so copies never collide on a key."""
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(os.path.join(SF_DIR, "lineitem.parquet"))
    span = pc.max(base["l_orderkey"]).as_py() + 1
    rng = np.random.default_rng(seed)
    rows = 0
    for i in range(copies):
        t = base.take(pa.array(rng.permutation(base.num_rows)))
        t = t.set_column(
            t.schema.get_field_index("l_orderkey"), "l_orderkey",
            pc.add(t["l_orderkey"], pa.scalar(i * span, pa.int64())),
        )
        pq.write_table(t, os.path.join(out_dir, f"part-{i:02d}.parquet"))
        rows += t.num_rows
    return {"lineitem_x_rows": rows, "lineitem_x_files": copies}


# --------------------------------------------------- curation corpus

PII_EMAIL = "user{}@mail{}.example.com"
PII_URL = "https://site{}.example.org/page{}"


@dataclass
class Corpus:
    dir: str
    n_docs: int
    n_base: int
    n_exact_dups: int
    n_near_dups: int
    n_pii_docs: int
    eval_ids: list[int]
    n_vectors: int
    n_vector_dups: int
    input_bytes: int
    first_copy_id: int

    @property
    def dup_share(self) -> float:
        return (self.n_exact_dups + self.n_near_dups) / self.n_docs


def write_corpus(seed: int, out_dir: str, n_base: int = 2000,
                 dup_share: float = 0.2, pii_share: float = 0.1, n_eval: int = 100,
                 vector_dup_share: float = 0.1) -> Corpus:
    """The curation corpus: ``n_base`` of the 5,000 sf0.1 documents,
    drawn by the seed, plus injected duplicates making up ``dup_share``
    of the result, at most one per source document — half verbatim
    copies, half near-copies with one token replaced (3-shingle Jaccard
    0.8-0.95 with their source). Copies get ids above every base id, so
    min-id dedup keeps the base documents. A ``pii_share`` of base
    documents gain an email address and a URL; ``n_eval`` base
    documents form the decontamination eval set. The embeddings get the
    same treatment: ``vector_dup_share`` near-copies (noise 1e-4) of
    base vectors."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"corpus/{seed}")
    everything = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pylist()
    first_copy_id = next_id = max(d["doc_id"] for d in everything) + 1
    vocab = sorted({w for d in everything for w in d["text"].split()})
    docs = rng.sample(everything, n_base)

    pii = rng.sample(range(n_base), int(n_base * pii_share))
    for j, i in enumerate(pii):
        d = docs[i]
        d["text"] = (f"{d['text']} contact {PII_EMAIL.format(j, j % 7)}"
                     f" see {PII_URL.format(j, j % 11)}")

    n_dups = round(dup_share * n_base / (1 - dup_share))
    long_docs = [d for d in docs if len(d["text"].split()) >= 30]
    out = list(docs)
    n_exact = n_dups // 2
    # one copy per source: every duplicate group is a pair, so the
    # dedup work (candidate pairs, connected-component rounds) does not
    # vary with how often the seed happens to pick the same source
    for j, src in enumerate(rng.sample(long_docs, n_dups)):
        toks = src["text"].split()
        if j >= n_exact:
            k = rng.randrange(len(toks))
            toks[k] = rng.choice([w for w in vocab if w != toks[k]])
        text = " ".join(toks)
        out.append({**src, "doc_id": next_id, "text": text, "n_chars": len(text)})
        next_id += 1
    for d in out:
        d["n_chars"] = len(d["text"])
    rng.shuffle(out)
    pq.write_table(pa.Table.from_pylist(out), os.path.join(out_dir, "corpus.parquet"))

    eval_docs = rng.sample(docs, n_eval)
    eval_ids = sorted(d["doc_id"] for d in eval_docs)
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "text": d["text"]} for d in eval_docs]),
        os.path.join(out_dir, "eval.parquet"))

    emb = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    nrng = np.random.default_rng(seed)
    n_vdup = int(len(vecs) * vector_dup_share)
    src = nrng.choice(len(vecs), n_vdup, replace=False)
    dup = (vecs[src] + nrng.normal(0, 1e-4, (n_vdup, vecs.shape[1]))).astype(np.float32)
    ids = np.concatenate([emb["vec_id"].to_numpy(),
                          emb["vec_id"].to_numpy().max() + 1 + np.arange(n_vdup)])
    labels = np.concatenate([emb["label"].to_numpy(), emb["label"].to_numpy()[src]])
    all_vecs = np.concatenate([vecs.astype(np.float32), dup])
    perm = nrng.permutation(len(ids))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids[perm], pa.int64()),
            "embedding": pa.array(list(all_vecs[perm]), pa.list_(pa.float32())),
            "label": pa.array(labels[perm], pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"))

    size = sum(os.path.getsize(os.path.join(out_dir, f))
               for f in ("corpus.parquet", "embeddings.parquet"))
    return Corpus(out_dir, len(out), n_base, n_exact, n_dups - n_exact,
                  len(pii), eval_ids, len(ids), n_vdup, size, first_copy_id)
