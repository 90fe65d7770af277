"""The drop-in CLI: reference driver contract (3 args, reference output)."""

from __future__ import annotations

import glob

from similarity_search_with_hadoop_mapreduce_spark.__main__ import main
from tests.reference_sim import mr_similarity
from tests.test_parity import TOY


def _write_corpus(d, corpus):
    for doc_id, text in corpus.items():
        (d / f"{doc_id}.txt").write_text(text)


def test_cli_arity_mismatch_exits_1(spark):
    assert main([]) == 1
    assert main(["a", "b"]) == 1
    assert main(["a", "b", "c", "d"]) == 1


def test_cli_end_to_end_matches_reference_lines(spark, tmp_path):
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    _write_corpus(corpus_dir, TOY)
    out = tmp_path / "out"
    rc = main(
        [str(corpus_dir), str(out), str(corpus_dir / "q.txt")], spark=spark
    )
    assert rc == 0
    lines = []
    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            lines.extend(line.rstrip("\n") for line in fh)
    want = sorted(
        f"{doc} - q\t{score!r}" for doc, score in mr_similarity(TOY, "q").items()
    )
    assert sorted(lines) == want


def test_cli_file_names_needing_uri_escapes(spark, tmp_path):
    """Doc ids are the file names up to the first dot, not their URI
    forms: ' ' and '%' must not stay percent-encoded, '+' must not
    become a space, non-ASCII passes through — so a query file whose
    name needs escaping still finds itself in the corpus."""
    from similarity_search_with_hadoop_mapreduce_spark.sources.tables import (
        load_corpus_dir,
    )

    files = {
        "my query.txt": "alpha beta gamma delta epsilon",
        "100%.txt": "alpha beta gamma delta zeta",
        "p+q.txt": "alpha beta gamma eta theta",
        "café.txt": "café au lait ok",
    }
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    for name, text in files.items():
        (corpus_dir / name).write_text(text)
    texts = {name.split(".", 1)[0]: text for name, text in files.items()}

    ids = {r.doc_id for r in load_corpus_dir(spark, str(corpus_dir)).collect()}
    assert ids == set(texts)

    out = tmp_path / "out"
    rc = main(
        [str(corpus_dir), str(out), str(corpus_dir / "my query.txt")],
        spark=spark,
    )
    assert rc == 0
    lines = []
    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            lines.extend(line.rstrip("\n") for line in fh)
    want = sorted(
        f"{doc} - my query\t{score!r}"
        for doc, score in mr_similarity(texts, "my query").items()
    )
    assert lines and sorted(lines) == want
