"""Cut the article pool of the ``web_corpus`` workload from the test
data's ``documents.parquet``.

    python3 perfbench/data/slice_documents.py --sf-dir "$SPARK_GRAFT_SF_DIR"

Writes ``perfbench/data/articles.parquet``: ``N_DOCS`` documents drawn
with a fixed seed, after dropping

* the source's planted near copies (texts ending in `` dup``) and every
  repeat of an exact text, so no two texts of the pool are copies of
  each other (the workload plants its own copies);
* texts with fewer than ``MIN_FUNCTION_SHARE`` English function words,
  since the workload's truth is that every original article is English
  prose that passes a stopword-share quality gate (2% in C4-style
  filters, so 3% leaves a margin).

The ``lang`` column is not kept: every source text uses one English
vocabulary whatever its label.
"""

from __future__ import annotations

import argparse
import os
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 3600
SEED = 20240601
FUNCTION_WORDS = frozenset(("the", "a", "an", "of", "and", "to", "in", "is", "it",
                            "that", "for", "on", "with", "as", "was", "at", "by"))
MIN_FUNCTION_SHARE = 0.03
OUT = Path(__file__).resolve().parent / "articles.parquet"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ)
    args = ap.parse_args()
    rows = pq.read_table(Path(args.sf_dir) / "documents.parquet",
                         columns=["doc_id", "text"]).to_pylist()
    seen, pool = set(), []
    for row in sorted(rows, key=lambda r: r["doc_id"]):
        text = row["text"]
        toks = text.split()
        if (text.endswith(" dup") or text in seen
                or sum(t in FUNCTION_WORDS for t in toks) < MIN_FUNCTION_SHARE * len(toks)):
            continue
        seen.add(text)
        pool.append(row)
    picked = sorted(random.Random(SEED).sample(pool, N_DOCS), key=lambda r: r["doc_id"])
    pq.write_table(pa.Table.from_pylist(picked), OUT, compression="zstd")


if __name__ == "__main__":
    main()
