#!/usr/bin/env python3
"""Fast self-test of the benchmark's Python side (no JVM, stdlib only).

    python3 perfbench/selftest.py

Pins generator determinism at tiny size (the same seed gives the same
bytes, another seed other bytes), checks each quality scorer on
hand-built cases, and checks the span self-time arithmetic.
"""
import filecmp
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402
import score  # noqa: E402


def write(path, text):
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return path


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def same_tree(a, b):
    names = files(a)
    if names != files(b):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


def test_determinism(tmp):
    for w in gen.GENERATORS:
        one, two, other = (os.path.join(tmp, "%s-%s" % (w, k)) for k in ("a", "b", "c"))
        gen.generate(w, 7, one, size="tiny")
        gen.generate(w, 7, two, size="tiny")
        gen.generate(w, 8, other, size="tiny")
        assert same_tree(one, two), "%s: same seed, different bytes" % w
        assert not same_tree(one, other), "%s: another seed, same bytes" % w


def test_zipf_strata():
    import random
    draw = gen.zipf_sampler(random.Random(1), ["a", "b", "c"], 1.0, 11)
    got = sorted(draw() for _ in range(11))
    # expected counts 6, 3, 2 of 11 (weights 1, 1/2, 1/3)
    assert got == ["a"] * 6 + ["b"] * 3 + ["c"] * 2, got


def test_ingest_scorer(tmp):
    truth = write(os.path.join(tmp, "it.csv"),
                  "document_id,first_name,last_name\nd1,Anna,Müller\nd2,Karl,Weber\nd3,Ida,Roth\n")
    pred = write(os.path.join(tmp, "ip.tsv"),
                 "document_id\tfirst_name\tlast_name\tis_ambiguous\n"
                 "d1\tAnna\tMüller\tfalse\nd2\tKarl\t?\ttrue\n")
    # d1 2/2, d2 1/2 ("?" is wrong), d3 missing 0/2
    got = score.score("ingest", truth, pred)
    assert abs(got - 3 / 6) < 1e-12, got


def test_match_scorer(tmp):
    truth = write(os.path.join(tmp, "mt.csv"), "srcID,trgID\nS1,R1\nS2,R5\nS3,R7\nS4,R9\n")
    pred = write(os.path.join(tmp, "mp.tsv"),
                 "srcID\tscore\ttrgID\n"
                 "S1\t90.0\tR2\nS1\t95.0\tR1\n"   # best is R1: hit
                 "S2\t88.0\tR5\nS2\t88.0\tR4\n"   # tie goes to the smaller id R4: miss
                 "S3\t-1.0\tnull\n"               # unmatched: miss
                 "S4\t81.0\tR9\n")                # hit
    got = score.score("match", truth, pred)
    assert abs(got - 2 / 4) < 1e-12, got


def test_cluster_scorer(tmp):
    truth = write(os.path.join(tmp, "ct.csv"), "id,entity\n1,a\n2,a\n3,a\n4,b\n5,b\n")
    perfect = write(os.path.join(tmp, "cp1.tsv"), "id\tcluster_id\n1\tx\n2\tx\n3\tx\n4\ty\n5\ty\n")
    assert score.score("cluster", truth, perfect) == 1.0
    # predicted {1,2} {3,4,5}: pairs 1+3=4, true 3+1=4, tp (1,2)+(4,5)=2
    split = write(os.path.join(tmp, "cp2.tsv"), "id\tcluster_id\n1\tx\n2\tx\n3\ty\n4\ty\n5\ty\n")
    got = score.score("cluster", truth, split)
    assert abs(got - 0.5) < 1e-12, got
    singletons = write(os.path.join(tmp, "cp3.tsv"), "id\tcluster_id\n1\tp\n2\tq\n")
    assert score.score("cluster", truth, singletons) == 0.0


def test_self_times():
    spans = [
        {"name": "batch", "start_ns": 0, "end_ns": 100, "parent": -1, "batch": 0},
        {"name": "a", "start_ns": 10, "end_ns": 40, "parent": 0, "batch": 0},
        {"name": "b", "start_ns": 30, "end_ns": 60, "parent": 0, "batch": 0},
        {"name": "c", "start_ns": 80, "end_ns": 90, "parent": 0, "batch": 0},
    ]
    got = [round(s["self_s"] * 1e9) for s in run.self_times(spans)]
    # batch: 100 - (10..60 merged = 50) - 10 = 40
    assert got == [40, 30, 30, 10], got


def main():
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=".")
    try:
        test_determinism(tmp)
        test_zipf_strata()
        test_ingest_scorer(tmp)
        test_match_scorer(tmp)
        test_cluster_scorer(tmp)
        test_self_times()
    finally:
        shutil.rmtree(tmp)
    print("selftest: ok")


if __name__ == "__main__":
    main()
