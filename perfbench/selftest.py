#!/usr/bin/env python3
"""Self-checks of the harness's own logic (no Spark, a few seconds):

    python3 perfbench/selftest.py

* the percentile helper, the ≥10-samples-beyond rule and the quartile
  spread;
* generator determinism: the same seed gives byte-identical files, and a
  different seed different ones;
* the h/g-index reference on hand-computed cases;
* replayed batches: every replay repeats an earlier paper exactly.
"""
import hashlib
import os
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


def check_stats():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile([7], 50) == 7
    assert stats.percentile([3, 1, 2], 50) == 2
    # ≥10 beyond: p50 needs 20 samples, p90 needs 100
    assert stats.beyond(20, 50) == 10 and stats.reportable(20, 50)
    assert not stats.reportable(19, 50)
    assert stats.reportable(100, 90) and not stats.reportable(99, 90)
    assert stats.summary(list(range(19))) == {"n": 19, "median": 9}
    assert stats.summary(list(range(1, 21)))["p50"] == 10
    s = stats.summary(xs)
    assert s == {"n": 100, "median": 50.5, "p50": 50, "p90": 90}
    assert "p99" in stats.summary(list(range(1, 1001)))
    assert "p99.9" not in stats.summary(list(range(1, 1001)))
    # quartiles as statistics.quantiles(n=4) gives them
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert (q1, q3) == (2.75, 8.25)
    assert abs(stats.quartile_spread(vals) - (8.25 - 2.75) / 5.5) < 1e-12
    assert stats.quartile_spread([2.0] * 10) == 0.0


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check_determinism():
    with tempfile.TemporaryDirectory() as d:
        dirs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            p = os.path.join(d, tag)
            os.makedirs(p)
            gen.write_star_schema(seed, 0.002, p)
            papers = gen.staged_papers(seed, 300)
            for i, b in enumerate(gen.batches_with_replays(seed, papers[100:], 50, 2,
                                                           seen=papers[:100])):
                gen.write_papers(b, os.path.join(p, f"batch_{i:05d}.parquet"))
            dirs[tag] = _digest(p)
        assert dirs["a"] == dirs["b"], "same seed must give byte-identical inputs"
        assert dirs["a"] != dirs["c"], "another seed must give other inputs"


def _paper(pid, cites, *authors):
    return {"id": pid, "is-referenced-by-count": cites,
            "authors_merged": [{"full_name": a} for a in authors]}


def check_hg():
    # h: citations 10,8,5,4,3 -> 4 papers with >= 4 citations
    # g: cumulative 10,18,23,27,30 vs 1,4,9,16,25 -> all five hold
    p = [_paper(str(i), c, "A") for i, c in enumerate([10, 8, 5, 4, 3])]
    assert gen.hg_reference(p) == {"A": (4, 5)}
    # zeros count for h's ranks but are dropped for g
    p = [_paper("1", 0, "B"), _paper("2", 0, "B"), _paper("3", 1, "B")]
    assert gen.hg_reference(p) == {"B": (1, 1)}
    # g can exceed h: 25,1,1 -> h=1, but cumsum 25,26,27 >= 1,4,9 -> g=3
    assert gen.hg_reference([_paper("1", 25, "C"), _paper("2", 1, "C"),
                             _paper("3", 1, "C")]) == {"C": (1, 3)}
    # a replayed id counts once; co-authors share the paper
    p = [_paper("1", 5, "D", "E"), _paper("1", 5, "D", "E"), _paper("2", 1, "D")]
    assert gen.hg_reference(p) == {"D": (1, 2), "E": (1, 1)}
    assert gen.hg_reference([_paper("1", 0, "F")]) == {"F": (0, 0)}


def check_replays():
    papers = gen.staged_papers(3, 400)
    pre, rest = papers[:100], papers[100:]
    batches = gen.batches_with_replays(3, rest, 50, 2, seen=pre)
    seen = {p["id"]: p for p in pre}
    for b in batches:
        assert len(b) == 50 or b is batches[-1]
        ids = [p["id"] for p in b]
        assert len(ids) == len(set(ids)), "no id twice within a batch"
        reps = [p for p in b if p["id"] in seen]
        assert len(reps) == 2 and all(seen[p["id"]] == p for p in reps)
        seen.update({p["id"]: p for p in b})
    assert len(seen) == 400


def main():
    for check in (check_stats, check_determinism, check_hg, check_replays):
        check()
        print(f"ok {check.__name__}")


if __name__ == "__main__":
    main()
