"""Seeded input generators.

Every input the benchmark feeds the program is a ``documents`` parquet file
``(doc_id long, text string)`` written under the run's own temp root; the
program derives transcripts from it with its public
``operators.transcripts.transcripts``. The same seed gives the same files.

Two vocabularies, one per kind of input:

* ``TEMPLATED_VOCAB`` is the 30-word vocabulary of the project's synthetic
  ``documents`` table (uniform word choice, 10-100 words per document).
  The transcripts derivation keeps only words 3, 5, 9 and 12, so a few
  thousand documents give a few thousand distinct turn texts, and
  replication multiplies each text: inputs share almost all their work.
* ``ADVERSARIAL_VOCAB`` is the slot vocabulary the oracle fuzzer uses
  (verb morphology, modals, numerals, punctuation, fused and case-folded
  entity tokens). Fourteen uniformly drawn words per document make nearly
  every turn text distinct: inputs share no work.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TEMPLATED_VOCAB = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
)

ADVERSARIAL_VOCAB = (
    "spark", "table", "row", "vector", "binding", "regulated", "activating",
    "was", "been", "will", "may", "42", "7", "or", "and", "not", "never",
    "strongly", "very", "big", "novel", "interaction", "merge", "scan",
    "hash", "window", "key", "batch", "value", "therefore", "however",
    "results", "showed", "observed", "suggests", "inhibits", "customer",
    ".", "(", ")", "[3,4]", "spark/table", "vector/row", "SPARK", "Table",
    "don't", "anti-spark", "join", "group", "tab", "sorted", "filtering",
    "since", "but", "when", "then", "also", "meanwhile", "PROTEIN0",
    "PROTEIN99x", "protein",
)

DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def templated_texts(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return [" ".join(rng.choice(TEMPLATED_VOCAB)
                     for _ in range(rng.randint(10, 100)))
            for _ in range(n)]


def adversarial_texts(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return [" ".join(rng.choice(ADVERSARIAL_VOCAB) for _ in range(14))
            for _ in range(n)]


def write_documents(sf_dir: str, texts: list[str], first_id: int = 0) -> str:
    """Write ``<sf_dir>/documents.parquet``; returns ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table({"doc_id": list(range(first_id, first_id + len(texts))),
                      "text": texts}, schema=DOCS_SCHEMA)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir
