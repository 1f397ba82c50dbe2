"""Seeded inputs. The same ``--seed`` gives the same tables; the engine
sees only these tables.

Every table is written to a temporary directory and renamed into place, so
a run that dies half way never leaves a table that looks complete.
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

# input sizes: "bench" is measured, "tiny" is for the self-test. The
# extract workload gets exactly ``docs`` documents holding exactly
# LINES_PER_DOC * docs media lines, so every seed asks for the same work.
SIZES = {
    "bench": {"docs": 256, "dedup_docs": 400},
    "tiny": {"docs": 12, "dedup_docs": 120},
}
LINES_PER_DOC = 9.5  # about the corpus generator's mean (0.45 * 21.5 spans)
SPARE_DOCS = 0.25    # extra candidate documents to pick from, per document
CORRUPT_RATE = 1e-3  # share of media blobs the job workload corrupts


def corpus_name(seed: int) -> str:
    return f"perfbench-{seed}"


def write_atomic(df, path: str) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.parquet(tmp)
    os.rename(tmp, path)


def pick_documents(seed: int, n_docs: int) -> Tuple[int, List[dict]]:
    """Choose ``n_docs`` of the corpus's first documents (plus spares)
    whose media lines add up to LINES_PER_DOC * n_docs: start from the
    first ``n_docs`` and make the single swap with a spare that best closes
    the gap until it is closed. Spans come from the generator without
    rendering, so this costs no Spark job. Returns the number of candidate
    documents and each chosen one's (doc_id, media spans)."""
    from calamari_spark.sources.synth import gen_document

    n_cand = n_docs + max(2, int(SPARE_DOCS * n_docs))
    docs = []
    for i in range(n_cand):
        doc_id, spans, _ = gen_document(i, corpus_name(seed), skew_tail=False,
                                        with_media=False)
        docs.append({"doc_id": doc_id,
                     "media": [(s["media_ref"], s["offset"]) for s in spans
                               if s["kind"] == "media"]})
    chosen, spare = list(range(n_docs)), list(range(n_docs, n_cand))
    size = [len(d["media"]) for d in docs]
    gap = sum(size[i] for i in chosen) - round(LINES_PER_DOC * n_docs)
    while gap:
        new_gap, a, b = min(((gap - size[chosen[a]] + size[spare[b]], a, b)
                             for a in range(len(chosen)) for b in range(len(spare))),
                            key=lambda t: abs(t[0]))
        if abs(new_gap) >= abs(gap):
            break
        chosen[a], spare[b], gap = spare[b], chosen[a], new_gap
    return n_cand, [docs[i] for i in sorted(chosen)]


def interleaved(spark, data_dir: str, seed: int, n_docs: int):
    """The interleaved corpus (documents + line images) for ``seed``,
    restricted to the documents ``pick_documents`` chooses. The skew tail
    is off: its few 500-2000-span documents would make the work differ
    between seeds by more than the bounds allow. Returns the two tables
    and the chosen documents' (doc_id, media spans)."""
    from pyspark.sql import functions as F

    from calamari_spark.sources.synth import generate_corpus

    n_cand, chosen = pick_documents(seed, n_docs)
    ids = [d["doc_id"] for d in chosen]
    docs, media = generate_corpus(spark, n_cand, corpus=corpus_name(seed),
                                  skew_tail=False)
    owner = F.regexp_extract("media_ref", "^(.*)_m[0-9]+$", 1)
    paths = [os.path.join(data_dir, t) for t in ("documents", "line_images")]
    write_atomic(docs.filter(F.col("doc_id").isin(ids)), paths[0])
    write_atomic(media.filter(owner.isin(ids)), paths[1])
    return spark.read.parquet(paths[0]), spark.read.parquet(paths[1]), chosen


def corrupt_media(spark, data_dir: str, media, seed: int, chosen: List[dict]
                  ) -> Tuple[object, List[Tuple[str, str, int]]]:
    """A copy of ``media`` with a seeded ``CORRUPT_RATE`` share of blobs
    (at least one) replaced by bytes that are not a PNG, and the
    (doc_id, media_ref, offset) spans that reference them."""
    from pyspark.sql import functions as F

    spans = sorted((d["doc_id"], ref, off) for d in chosen for ref, off in d["media"])
    k = max(1, round(CORRUPT_RATE * len(spans)))
    picks = np.random.RandomState(seed).choice(len(spans), size=k, replace=False)
    bad = [spans[i] for i in sorted(picks)]
    path = os.path.join(data_dir, "line_images_corrupt")
    write_atomic(
        media.withColumn(
            "png",
            F.when(F.col("media_ref").isin([b[1] for b in bad]),
                   F.lit(bytearray(b"corrupt blob")))
            .otherwise(F.col("png")),
        ),
        path,
    )
    return spark.read.parquet(path), bad


# near-duplicate structure of the dedup table
DEDUP_VOCAB = 400
CHAIN_SHARE = 0.9      # share of documents that sit in an edit chain
CHAIN_LEN = 4          # documents per chain
EDIT_RATE = 0.06       # share of words replaced between chain neighbours


def dedup_table(spark, data_dir: str, seed: int, n_docs: int):
    """(doc_id bigint, text string): singletons plus fixed-length chains
    in which each document is a light edit of the one before, so
    near-duplicate pairs link into components whose diameter makes
    connected components run several rounds. Doc ids are shuffled so
    chains are scattered over the id range."""
    rng = np.random.RandomState(seed)
    vocab = np.array([f"t{i:03d}" for i in range(DEDUP_VOCAB)])

    def fresh() -> List[str]:
        return list(vocab[rng.randint(0, DEDUP_VOCAB, rng.randint(40, 80))])

    n_chains = int(CHAIN_SHARE * n_docs) // CHAIN_LEN
    texts: List[str] = []
    for _ in range(n_chains):
        words = fresh()
        for _ in range(CHAIN_LEN):
            texts.append(" ".join(words))
            words = list(words)
            for i in rng.choice(len(words), max(1, int(EDIT_RATE * len(words))),
                                replace=False):
                words[i] = vocab[rng.randint(DEDUP_VOCAB)]
    texts += [" ".join(fresh()) for _ in range(n_docs - len(texts))]
    ids = rng.permutation(n_docs).astype(np.int64)
    # ids ascend along each chain: min-label propagation then needs the
    # chain's full length in rounds on every seed, not fewer when a chain's
    # smallest id happens to sit in its middle
    for c in range(n_chains):
        ids[c * CHAIN_LEN:(c + 1) * CHAIN_LEN].sort()
    path = os.path.join(data_dir, "documents_dedup")
    write_atomic(spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts})), path)
    return spark.read.parquet(path), path, n_docs


def replay_lines(seed: int, n_lines: int) -> List[Tuple[bytes, str]]:
    """(png, ground truth) of the corpus's first ``n_lines`` media lines,
    rendered on the driver: the fixed sample the kernel replay times."""
    from calamari_spark.sources.synth import gen_document

    out: List[Tuple[bytes, str]] = []
    doc = 0
    while len(out) < n_lines:
        _, _, media = gen_document(doc, corpus_name(seed), skew_tail=False)
        out.extend((m["png"], m["gt"]) for m in media)
        doc += 1
    return out[:n_lines]


def oracle_keepers(parquet_dir: str, threads: int) -> Dict[int, int]:
    """doc_id -> keeper from the registry's DuckDB oracle of
    ``q_dedup_clusters`` run over the written dedup table."""
    import duckdb

    from calamari_spark.plans.registry import oracle_sqls

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{parquet_dir}/*.parquet'"
        )
        rows = con.execute(oracle_sqls()["q_dedup_clusters"]).fetchall()
    finally:
        con.close()
    return {int(r[0]): int(r[1]) for r in rows}
