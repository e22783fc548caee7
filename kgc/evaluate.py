"""G10: precision/recall of emitted triples vs golden triples.

Set semantics over (doc_id, seg_id, subj, pred, obj, obj_type):
matches via inner join, FP/FN via left_anti both directions
(SURVEY.md §2.2 G10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEY = ["doc_id", "seg_id", "subj", "pred", "obj", "obj_type"]


def precision_recall(got: DataFrame, golden: DataFrame) -> dict:
    g = got.select(*KEY).dropDuplicates()
    x = golden.select(*KEY).dropDuplicates()
    tp = g.join(x, KEY, "inner").count()
    fp = g.join(x, KEY, "left_anti").count()
    fn = x.join(g, KEY, "left_anti").count()
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }

