#!/usr/bin/env python3
"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py           # fast checks, no Spark
    python3 perfbench/selfcheck.py --smoke   # plus a tiny-input run of
                                             # every workload, untraced and traced

Covers generator determinism, the reference index and the reference
llm_prep kept set on hand-made edge cases, the self-time arithmetic, the percentile summary, and the schema
of BENCHMARK.json (and that run.py reports exactly its metrics).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from tracing import Span, covered, self_times  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH_RE = re.compile(r"[A-Za-z0-9_./-]{1,200}")


def check_generator() -> None:
    def digest(seed):
        p, docs = gen.gen_index_corpus(seed, scale=0.01)
        q, pdocs, (vecs, _), planted = gen.gen_prep_inputs(seed, scale=0.1)
        return gen.digest([repr(p), *(x for d in docs for x in d), repr(q),
                            *(x for d in pdocs for x in d), vecs.tobytes(), repr(planted)])

    assert digest(5) == digest(5), "same seed must give the same inputs"
    assert digest(5) != digest(6), "a different seed must give different inputs"
    for seed in (1, 2, 3):
        p = gen.index_params(seed)
        assert 80_000 <= p["vocab"] <= 120_000 and 1.0 <= p["zipf_s"] <= 1.15
        _, docs = gen.gen_index_corpus(seed, scale=0.01)
        assert all(t.isascii() for _, t in docs), "generated text must be ASCII"
        _, pdocs, _, planted = gen.gen_prep_inputs(seed, scale=0.1)
        first = {}
        for doc_id, text, lang, _ in pdocs:
            first.setdefault((text, lang), doc_id)
        dups = sorted(d for d, t, lang, _ in pdocs if first[(t, lang)] != d)
        assert dups == sorted(planted["exact_dup_docs"]), "planted duplicates misrecorded"
        kept = gen.reference_prep_kept(pdocs, gen.PREP_LANGUAGES, gen.PREP_MIN_QUALITY,
                                       gen.PREP_DEDUP_THRESHOLD)
        langs = {d: lang for d, _, lang, _ in pdocs}
        assert kept and not set(kept) & set(dups) and {langs[d] for d in kept} == {"en"}


def check_reference_index() -> None:
    docs = [
        (0, "Don't stop the gable-ended HOUSE"),
        (1, "house 1832 dont!\t(stop)\x0bzz9z -- the"),
        (2, "  leading\nand trailing  \r\n"),
    ]
    ref = gen.reference_index(docs)
    want = {
        "a": b"and:[2]\n",
        "d": b"dont:[0 1]\n",
        "g": b"gableended:[0]\n",
        "h": b"house:[0 1]\n",
        "l": b"leading:[2]\n",
        "s": b"stop:[0 1]\n",
        "t": b"the:[0 1]\ntrailing:[2]\n",
        "z": b"zzz:[1]\n",
    }
    for c in gen.LETTERS:
        assert ref[c] == want.get(c, b""), (c, ref[c])


def check_reference_prep() -> None:
    base = [f"word{i}" for i in range(120)]
    near = list(base)
    near[60] = "changed"
    far = list(base)
    for i in (10, 30, 50, 70, 90):
        far[i] = "changed"
    other = " ".join(f"other{i}" for i in range(120))
    docs = [
        (0, " ".join(base), "en", "s"),
        (1, " ".join(near), "en", "s"),   # Jaccard 115/121 vs doc 0: dropped
        (2, " ".join(base), "en", "s"),   # exact copy: dropped
        (3, " ".join(base), "de", "s"),   # language filtered out
        (4, other, "en", "s"),
        (5, " ".join(["xq"] * 10), "en", "s"),  # quality 0.09: dropped
    ]
    kept = gen.reference_prep_kept(docs, ("en",), 0.3, 0.8)
    assert kept == [0, 4], kept
    try:  # Jaccard 103/133 = 0.77 is too close to 0.8 to be decided safely
        gen.reference_prep_kept([*docs, (6, " ".join(far), "en", "s")], ("en",), 0.3, 0.8)
    except ValueError:
        pass
    else:
        raise AssertionError("a pair near the threshold must be refused")


def check_self_time() -> None:
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-1, 2), (9, 12)], 0, 10) == 3
    assert covered([], 0, 10) == 0
    spans = [Span(0, "op", None, "r", 0.0, 10.0),
             Span(1, "a", 0, "r", 1.0, 4.0),
             Span(2, "b", 0, "r", 3.0, 6.0),
             Span(3, "c", 1, "r", 1.5, 2.0)]
    st = self_times(spans)
    assert abs(st[0] - 5.0) < 1e-9, st  # children cover [1, 6]
    assert abs(st[1] - 2.5) < 1e-9, st
    assert abs(st[2] - 3.0) < 1e-9 and abs(st[3] - 0.5) < 1e-9, st


def check_summary() -> None:
    s = run.summarize([float(x) for x in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0, s
    s = run.summarize([3.0, 1.0, 2.0])
    assert s["p50"] == 2.0 and not any(k.startswith("p9") for k in s), s
    assert "p50" in run.summarize([float(x) for x in range(20)])


def check_schema() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        raw = fh.read()
    assert len(raw.encode()) <= 64 * 1024
    b = json.loads(raw)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert PATH_RE.fullmatch(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    cmd = b["command"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    names = []
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and NAME_RE.fullmatch(w["name"])
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    e2e, layers = b["end_to_end"], b["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layers:
        assert NAME_RE.fullmatch(m["name"]) and UNIT_RE.fullmatch(m["unit"])
        assert m["better"] in ("higher", "lower")
        names.append(m["name"])
    assert len(names) == len(set(names)), "names must be unique"
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e), "setup_s gets the largest bound"
    assert {m["name"]: m["unit"] for m in e2e} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in layers} == run.LAYER_UNITS
    assert [w["name"] for w in b["workloads"]] == ["index_build", "llm_prep"]


def smoke() -> None:
    """Every workload end to end on tiny inputs, untraced and traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    for w in b["workloads"]:
        for trace, units in ((0, run.E2E_UNITS), (1, run.LAYER_UNITS)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert r.returncode == 0, (cmd, r.stderr[-2000:])
            last = json.loads(r.stdout.strip().splitlines()[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}
            assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
            assert {k: v["unit"] for k, v in last["metrics"].items()} == units
            print(f"smoke {w['name']} trace={trace}: ok")


def main() -> int:
    for check in (check_generator, check_reference_index, check_reference_prep,
                  check_self_time, check_summary, check_schema):
        check()
        print(f"{check.__name__}: ok")
    if "--smoke" in sys.argv[1:]:
        smoke()
    return 0


if __name__ == "__main__":
    sys.exit(main())
