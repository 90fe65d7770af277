"""Tests of the benchmark's own parts that need no Spark: the seeded
generators, the answer checker, the CPU-time probe and the A/B verdicts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import expected as E  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

# trigrams: q {abc, bcd}; x {abc, bcd}; y {abc}; z {abc, bcx, cxy}.
# "a b c" is in all four documents (df == n), so the parity score prunes
# it: only x keeps a surviving shared trigram.
CORPUS = {"q": "a b c d", "x": "a b c d", "y": "a b c", "z": "a b c x y"}


def _read_all(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_zipf_corpus_is_byte_identical_per_seed(tmp_path):
    a = gen.zipf_corpus(str(tmp_path / "a"), seed=3, n_docs=300)
    b = gen.zipf_corpus(str(tmp_path / "b"), seed=3, n_docs=300)
    c = gen.zipf_corpus(str(tmp_path / "c"), seed=4, n_docs=300)
    assert _read_all(a) == _read_all(b) != _read_all(c)


def test_book_dir_is_byte_identical_per_seed(tmp_path):
    a = gen.book_dir(str(tmp_path / "a"), seed=3, n_books=4, tokens=3000)
    b = gen.book_dir(str(tmp_path / "b"), seed=3, n_books=4, tokens=3000)
    files = _read_all(a)
    assert files == _read_all(b)
    assert sorted(files) == ["book000.txt", "book001.txt", "book002.txt",
                             "query.txt"]
    assert all(len(v.split()) == 3000 for v in files.values())


def test_java_split_semantics():
    assert E.java_split("") == [""]
    assert E.java_split("!!!") == []
    assert E.java_split(" a b") == ["", "a", "b"]
    assert E.java_split("a b.") == ["a", "b"]


def test_scores_by_hand():
    index = E.Index(CORPUS, ["q"])
    assert index.parity_scores("q") == {"x": 1 / ((2 + 2) - 1)}
    assert E.top_k({"x": 0.5, "y": 1.0, "z": 0.5}, k=2) == [("y", 1.0),
                                                           ("x", 0.5)]


def test_corrupted_answer_counts_as_failure():
    index = E.Index(CORPUS, ["q", "x"])
    good = {"rid": "r0", "query": "q", "error": None,
            "answer": [list(p) for p in E.top_k(index.parity_scores("q"))]}
    off_score = copy.deepcopy(good)
    off_score["answer"][0][1] += 1e-9
    missing = dict(good, answer=[])
    raised = dict(good, error="Py4JJavaError: boom")
    assert run.count_failures(index, [good]) == 0
    assert run.count_failures(index, [good, off_score, missing, raised]) == 3


def test_cli_output_check(tmp_path):
    want = E.Index(CORPUS, ["q"]).parity_scores("q")
    (tmp_path / "part-00000.csv").write_text(
        "".join(f"{d} - q\t{s!r}\n" for d, s in want.items()))
    (tmp_path / "_SUCCESS").write_text("")
    got = E.read_reference_output(str(tmp_path))
    assert E.same_score_set(got, want)
    assert not E.same_score_set({d: s + 1e-9 for d, s in got.items()}, want)
    assert not E.same_score_set({**got, "y": 0.5}, want)


def test_cpu_probe_counts_this_process():
    before = spans.cpu_s(os.getpid())
    deadline = time.process_time() + 0.2
    while time.process_time() < deadline:
        pass
    assert spans.cpu_s(os.getpid()) - before >= 0.1
    assert spans.tree_cpu_s([os.getpid()]) >= spans.cpu_s(os.getpid()) - 0.05
    assert spans.cpu_s(-1) == 0.0


def test_compare_verdicts():
    parent = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}
    faster = {s: v * 0.8 for s, v in parent.items()}
    slower = {s: v * 1.3 for s, v in parent.items()}
    assert compare.verdict(parent, faster, "lower", 0.1) == ("10/10", "improved")
    assert compare.verdict(parent, slower, "lower", 0.1) == ("0/10", "worse")
    assert compare.verdict(parent, dict(parent), "lower", 0.1)[1] == "no worse"
    noisy = {s: 10.0 * (1 + 0.5 * (s % 2)) for s in range(10)}
    assert compare.verdict(noisy, dict(noisy), "lower", 0.1)[1] == "unresolved"
