"""Seeded input documents for the benchmark workloads.

The engine's ``documents`` table is (doc_id BIGINT, text, lang, source,
n_chars).  The benchmark builds it from nothing but the seed: a fixed base
of ``BASE_DOCS`` documents (the size of the sf0.1 table) whose text,
language and source are pure integer functions of the base id, replicated
``replicas`` times with distinct doc_ids.  The seed only shifts the
replica doc_id offsets, so span coordinates change from seed to seed while
the row count, span count and the 1% point-mass share (doc_id % 100 == 0,
see ``synth``) stay put: every base residue mod 100 occurs equally often
in each replica.
"""

from __future__ import annotations

BASE_DOCS = 5000
REPLICA_STRIDE = 10_000_019  # as bench.py: replica r adds r * stride

_WORDS = (
    "batch part spark line column order small sort value filter customer "
    "fast string join table slow stream window region tile point cell "
    "polygon media image audio text query index cache merge scan"
).split()


def seed_offset(seed: int) -> int:
    """doc_id shift for ``seed``: a multiple of 100 plus a residue, so the
    hot-doc residue class moves to other base ids with the seed."""
    return (seed % 1000) * 100_003 + seed % 97


def doc_ids(replicas: int, seed: int) -> list[int]:
    """Every doc_id of ``documents_sql(replicas, seed)``."""
    off = seed_offset(seed)
    return [b + r * REPLICA_STRIDE + off for r in range(replicas) for b in range(BASE_DOCS)]


def documents_sql(replicas: int, seed: int) -> str:
    """Spark SQL over ``range(BASE_DOCS * replicas)`` -> documents rows.

    Text has 8..23 words drawn by integer hashing of the base id, so
    ``n_chars`` spans the cutflow's ``n_chars > 100`` boundary."""
    vocab = ", ".join(f"'{w}'" for w in _WORDS)
    nw = len(_WORDS)
    return f"""
SELECT CAST(base + rep * {REPLICA_STRIDE} + {seed_offset(seed)} AS BIGINT) AS doc_id,
       text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
FROM (
  SELECT base, rep,
         concat_ws(' ', transform(sequence(0, CAST(base % 16 + 7 AS INT)),
             i -> element_at(array({vocab}),
                             CAST((base * 131 + i * 17 + i * i * 7) % {nw} + 1 AS INT)))) AS text,
         element_at(array('en', 'de', 'fr', 'zh', 'es'), CAST(base % 5 + 1 AS INT)) AS lang,
         concat('src', CAST(base % 7 AS STRING)) AS source
  FROM (SELECT id % {BASE_DOCS} AS base, id DIV {BASE_DOCS} AS rep
        FROM range({BASE_DOCS * replicas}))
)
"""


def build_documents(spark, path: str, *, replicas: int, seed: int, partitions: int):
    """Write the seeded documents table to ``path`` (overwrite) and
    return it read back from parquet: the timed passes scan files, as a
    real input would."""
    (
        spark.sql(documents_sql(replicas, seed))
        .repartition(partitions, "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)
