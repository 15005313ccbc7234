"""Seeded input of the corpus_batch workload: the sf0.1 `documents` table
of the project's test data (a copy is kept in `data/`), plus a stated,
seeded share of near-duplicate copies. That share is what the LSH
candidate and connected-components costs of the pipeline depend on.

A copy repeats one source document's text with one more token, drawn
from that document, appended; it keeps the source's `lang` and `source`
and gets a new `doc_id` after the table's last one. Each source document
is copied at most once.

The same seed gives a byte-identical file.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SF01_DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "data", "sf0.1-documents.parquet")
NEAR_DUP_SHARE = 0.05


def generate(seed, near_dup_share=NEAR_DUP_SHARE):
    """The sf0.1 table with `near_dup_share` × its row count copies
    appended, and the list of (copy doc_id, source doc_id) pairs."""
    base = pq.read_table(SF01_DOCUMENTS)
    cols = base.to_pydict()
    rnd = random.Random(seed)
    n = base.num_rows
    next_id = max(cols["doc_id"]) + 1
    pairs = []
    for k, i in enumerate(rnd.sample(range(n), round(n * near_dup_share))):
        text = cols["text"][i]
        text = text + " " + rnd.choice(text.split(" "))
        pairs.append((next_id + k, cols["doc_id"][i]))
        cols["doc_id"].append(next_id + k)
        cols["text"].append(text)
        cols["lang"].append(cols["lang"][i])
        cols["source"].append(cols["source"][i])
        cols["n_chars"].append(len(text))
    return pa.Table.from_pydict(cols, schema=base.schema), pairs


def write(seed, path):
    """Write the seeded table as one parquet file at `path`."""
    pq.write_table(generate(seed)[0], path)
