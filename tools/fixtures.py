"""Generated inputs for A/B runs and tests.

Each builder in ``FIXTURES`` writes an sf-style directory under ``root``:
the tables it generates as 32-file parquet, every other table of the base
``sf_dir`` symlinked at 1×, so any catalog entry resolves its tables
there. ``tools/ab.py`` arms name one as ``NAME:ARG`` (``--b-dir
zipf:320000``):

- ``zipf:N``      N synthetic documents over a FIXED 10k-word vocabulary
                  (``build_zipf_docs``);
- ``scale:R``     documents / events / embeddings replicated R× with
                  content kept unique across replicas (``replicate_docs``);
- ``pool:R``      every key-shift table replicated R× the way bench.py's
                  replica pool does it; ``pool:1`` is its bit-identical
                  multi-file layout;
- ``clustered:N`` N mixture-of-gaussians embeddings
                  (``clustered_embeddings``);
- ``decontam:F``  the decontamination gate's benchmark set (vec_id % 5 ==
                  0) replicated F× inside the embeddings table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

VOCAB = 10_000
WORDS_PER_DOC = 100


def _sf_dir(sf_dir: str, root: str, name: str, tables: dict) -> str:
    """Write ``tables`` (name -> DataFrame) into root/name, symlink the rest."""
    from velostream_spark.session import TABLE_NAMES

    d = os.path.join(root, name)
    os.makedirs(d)
    for t, df in tables.items():
        df.repartition(32).write.mode("overwrite").parquet(os.path.join(d, f"{t}.parquet"))
    for t in TABLE_NAMES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t not in tables and os.path.exists(src):
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    return d


def _base(spark, sf_dir: str) -> dict:
    from velostream_spark.session import load_tables

    return load_tables(spark, sf_dir, register_views=False)


def build_zipf_docs(spark, sf_dir: str, n_docs: int, root: str) -> str:
    """documents of n_docs synthetic docs over the FIXED vocab — the regime
    replication cannot show: real text keeps its vocabulary while postings
    grow with the corpus, so a stopword's df/window group lands in ONE task.

    Word ranks are log-uniform: rank = floor(V^u) with u in [0,1) from a
    per-(doc, position) xxhash64 — P(rank <= r) = ln(r)/ln(V), i.e. a
    Zipf(s~=1) head: rank 0 ('w0') appears in ~every doc, the way 'the'
    does. Deterministic, scan-side generation — no data files shipped."""
    u = lambda i: F.pmod(  # noqa: E731
        F.xxhash64(F.col("id") * WORDS_PER_DOC + i, F.lit(7)), F.lit(1_000_000)
    ).cast("double") / 1_000_000.0
    word = lambda i: F.concat(  # noqa: E731
        F.lit("w"), F.floor(F.pow(F.lit(float(VOCAB)), u(i))).cast("long") - 1
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)), word), " "
            ).alias("text"),
        )
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("zipf"))
        .withColumn("n_chars", F.length("text"))
    )
    return _sf_dir(sf_dir, root, f"zipf_{n_docs}", {"documents": docs})


def replicate_docs(spark, sf_dir: str, rep: int, root: str) -> str:
    """documents / events / embeddings ×rep for the content-keyed operators
    (dedup keys on CONTENT, not ids, so bench.py's key-shift pool would
    collapse the replicas into one survivor set):

    - documents: doc_id shifts; text gets a per-replica suffix token
      (" repN"), unique ACROSS replicas while every intra-replica duplicate
      relationship (exact dups, shared spans) is preserved;
    - events: event_id and user_id shift (more users, same per-user
      history), timestamps unchanged;
    - embeddings: vec_id shifts; vectors are rotated by ``rep`` dimensions
      and sign-flipped per 64 replicas — norm-preserving, keeps the
      within-replica similarity structure and spreads replicas over
      different IVF cells (identical copies would pile into one cell and
      make the Gram work R²×). Unique for rep < 128."""
    dfs = _base(spark, sf_dir)
    reps = F.broadcast(spark.range(rep).select(F.col("id").alias("rep")))

    def shifted(t: str, cols: list[str]):
        df = dfs[t]
        mx = df.agg(*[F.max(c).alias(c) for c in cols]).first()
        return df.crossJoin(reps).withColumns(
            {c: F.col(c) + F.col("rep") * (mx[c] + 1) for c in cols}
        )

    docs = shifted("documents", ["doc_id"]).withColumn(
        "text", F.concat(F.col("text"), F.lit(" rep"), F.col("rep"))
    )
    emb = shifted("embeddings", ["vec_id"]).withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (x, i) -> CAST((1 - 2 * ((rep div 64) % 2)) * "
            "element_at(embedding, CAST(((i + rep) % 64) + 1 AS INT)) AS FLOAT))"
        ),
    )
    tables = {
        "documents": docs.drop("rep"),
        "events": shifted("events", ["event_id", "user_id"]).drop("rep"),
        "embeddings": emb.drop("rep"),
    }
    return _sf_dir(sf_dir, root, f"scale_x{rep}", tables)


def clustered_embeddings(spark, n: int = 2000, k: int = 16, dim: int = 64, seed: int = 7):
    """Seeded mixture-of-gaussians corpus in the embeddings-table schema
    (vec_id long, embedding array<float>, label int). Centers ~ N(0, I)
    (expected pairwise separation ~sqrt(2·dim)), points ~ N(center,
    0.15² I) — well-separated clusters, the structure k-means indexes are
    built for, unlike the random-gaussian driver table. Deterministic for
    a given seed, so tests and A/B runs see the same corpus."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    pts = centers[label] + rng.normal(0.0, 0.15, (n, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in pts],
            "label": label.astype(np.int32),
        }
    )
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>, label int")


def decontam_bench_set(spark, sf_dir: str, factor: int, root: str) -> str:
    """embeddings with the gate's benchmark set B (vec_id % 5 == 0)
    replicated ``factor``×: ids shift by multiples of 1_000_000 (still
    ≡ 0 mod 5, so every copy stays in B) and ONE component is perturbed
    per replica so copies are not bit-identical rows. Sweeping ``factor``
    walks B across the gate's broadcast ceiling
    (DECONTAM_BROADCAST_MAX_ROWS)."""
    emb = _base(spark, sf_dir)["embeddings"]
    reps = F.broadcast(spark.range(factor).select(F.col("id").alias("rep")))
    b = emb.where(F.col("vec_id") % 5 == 0).crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == F.col("rep") % 64, F.col("rep") * F.lit(1e-6))
            .otherwise(F.lit(0.0)).cast("float"),
        ).alias("embedding"),
        "label",
    )
    table = emb.where(F.col("vec_id") % 5 != 0).unionByName(b)
    return _sf_dir(sf_dir, root, f"decontam_x{factor}", {"embeddings": table})


def bench_pool(spark, sf_dir: str, rep: int, root: str) -> str:
    """Every key-shift table present in ``sf_dir`` through bench.py's own
    replica pool at ``rep`` (its rep=1 multi-file layout at rep 1)."""
    import bench

    tables = tuple(
        t for t in bench._SHIFT_COLS if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    )
    pool = os.path.join(root, f"pool_x{rep}")
    os.makedirs(pool)
    return bench.build_replica_pool(spark, sf_dir, {(tables, rep)}, pool)[(tables, rep)]


FIXTURES = {
    "zipf": build_zipf_docs,
    "scale": replicate_docs,
    "pool": bench_pool,
    "clustered": lambda spark, sf_dir, n, root: _sf_dir(
        sf_dir, root, f"clustered_{n}", {"embeddings": clustered_embeddings(spark, n)}
    ),
    "decontam": decontam_bench_set,
}
