"""Quality scorers: the program's prediction file against gen.py's truth.

Each scorer returns a share in [0, 1]:
  ingest   consensus cell accuracy over the truth's fields
  match    recall@1 (best score, ties to the smaller trgID)
  cluster  pairwise F1 of predicted against true entities
"""
import csv
from collections import Counter

# Lowest quality a run may show before it counts as incorrect: about 0.07
# below what seeds 1-10 measure (ingest 0.97, match 0.83-0.85, cluster 0.92).
THRESHOLDS = {"ingest": 0.90, "match": 0.75, "cluster": 0.85}


def read_tsv(path):
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.DictReader(f, delimiter="\t", quoting=csv.QUOTE_NONE))


def read_csv(path):
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.DictReader(f))


def ingest_accuracy(truth, pred):
    """Share of truth cells whose consensus value equals the truth value.

    A document missing from the prediction counts every cell wrong; an
    ambiguous cell ("?") is wrong.
    """
    fields = [k for k in truth[0] if k != "document_id"] if truth else []
    by_doc = {r["document_id"]: r for r in pred}
    right = total = 0
    for t in truth:
        p = by_doc.get(t["document_id"], {})
        for k in fields:
            total += 1
            right += p.get(k) == t[k]
    return right / total if total else 0.0


def match_recall_at_1(truth, pred):
    """Share of sources whose best-scored target is the true one."""
    best = {}
    for r in pred:
        if r["trgID"] in ("", "null"):
            continue
        key = (-float(r["score"]), r["trgID"])
        if r["srcID"] not in best or key < best[r["srcID"]]:
            best[r["srcID"]] = key
    hits = sum(1 for t in truth if best.get(t["srcID"], (0, None))[1] == t["trgID"])
    return hits / len(truth) if truth else 0.0


def _pairs(sizes):
    return sum(n * (n - 1) // 2 for n in sizes)


def cluster_pairwise_f1(truth, pred):
    """Pairwise F1: a pair of rows is positive when they share a cluster."""
    true_of = {r["id"]: r["entity"] for r in truth}
    pred_of = {r["id"]: r["cluster_id"] for r in pred}
    both = Counter((true_of[i], pred_of.get(i, "missing:" + i)) for i in true_of)
    tp = _pairs(both.values())
    true_pairs = _pairs(Counter(true_of.values()).values())
    pred_pairs = _pairs(Counter(pred_of.get(i, "missing:" + i) for i in true_of).values())
    if tp == 0:
        return 0.0
    precision, recall = tp / pred_pairs, tp / true_pairs
    return 2 * precision * recall / (precision + recall)


SCORERS = {"ingest": ingest_accuracy, "match": match_recall_at_1,
           "cluster": cluster_pairwise_f1}


def score(workload, truth_path, pred_path):
    return SCORERS[workload](read_csv(truth_path), read_tsv(pred_path))
