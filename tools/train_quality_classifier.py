"""Train the default hashed-gram quality classifier (DCLM/fastText shape).

Positives: the sf0.01 documents corpus (clean synthetic text).
Negatives: deterministic degradations of the same docs — half get
boilerplate/spam-token injection, half get every-token duplication; both
shift the unigram AND bigram hashed distributions, which is exactly what
the bigram feature space exists to catch.

Split: held-out = doc_id % 5 == 0 (both classes). The artifact is written
only if held-out accuracy >= 0.95 (trained-artifact gate, same discipline
as tools/train_ner_weights.py / pin_invariants.py). Weights are rounded to
6dp so the scoring literals are short and the oracle's float exposure is
bounded.

Usage: python tools/train_quality_classifier.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from berkeley_entity_spark.operators.selection import (  # noqa: E402
    classifier_score,
    train_text_classifier,
)
from berkeley_entity_spark.session import get_spark  # noqa: E402

SPAM = (
    "click here subscribe now free offer limited deal cookie policy "
    "accept all rights reserved terms conditions apply buy now"
)


def degrade(docs):
    """Deterministic per-doc degradation: doc_id % 2 == 0 -> spam-token
    injection, else every-token duplication ('a b' -> 'a a b b')."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    dup = F.concat_ws(
        " ", F.flatten(F.transform(toks, lambda t: F.array(t, t)))
    )
    spam = F.concat_ws(" ", F.col("text"), F.lit(SPAM), F.lit(SPAM))
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, spam).otherwise(dup).alias("text"),
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    pos = docs
    neg = degrade(docs)
    tr = F.col("doc_id") % 5 != 0
    # epochs=0: the distributed NB log-odds fit alone. GD fine-tuning was
    # A/B-measured HARMFUL here (held-out 0.97 -> 0.93 at every lr in
    # {0.5, 1, 4} x epochs {10, 20, 40}): the duplication negatives' signal
    # lives in per-doc self-pair bigram buckets, which GD overfits per
    # bucket while NB generalizes through aggregate class mass.
    w, b = train_text_classifier(
        pos.where(tr), neg.where(tr), n_buckets=256, epochs=0
    )
    w = [round(float(x), 6) for x in w]
    b = round(float(b), 6)

    # held-out accuracy: positives should score >= 0.5, negatives < 0.5
    ho_pos = classifier_score(pos.where(~tr), w, b)
    ho_neg = classifier_score(neg.where(~tr), w, b)
    n_pos = ho_pos.count()
    n_neg = ho_neg.count()
    acc = (
        ho_pos.where("kept").count() + ho_neg.where("NOT kept").count()
    ) / max(n_pos + n_neg, 1)
    print(f"held-out accuracy: {acc:.4f} over {n_pos + n_neg} docs")
    if acc < 0.95:
        print("GATE FAILED (< 0.95) — artifact NOT written")
        sys.exit(1)

    path = os.path.join(
        ROOT,
        "berkeley_entity_spark",
        "ml",
        "quality_clf.json",
    )
    with open(path, "w") as f:
        json.dump(
            {
                "n_buckets": 256,
                "bias": b,
                "weights": w,
                "held_out_accuracy": round(acc, 4),
                "trained_on": sf_dir,
            },
            f,
        )
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
