"""Start-up check: the analysis chain reproduces the frozen goldens.

The oracle shares ``analyze`` with the engine, so the benchmark refuses
to time anything unless the chain still matches the tokenizer and
stemmer goldens the repository's tests are pinned to.  The fixtures are
only read."""

from __future__ import annotations

import json
from pathlib import Path


def check_goldens(fixtures: Path) -> list[str]:
    """Mismatch descriptions; empty when every golden case holds."""
    from php_lucene_analyzer_spark.analysis import (analyze,
                                                    standard_tokenize)
    from php_lucene_analyzer_spark.analysis.porter2 import stem
    from php_lucene_analyzer_spark.analysis.word_delimiter import \
        word_delimiter_graph

    chains = {
        "standard": standard_tokenize,
        "standard+wdgf": lambda t: word_delimiter_graph(standard_tokenize(t)),
        "full": analyze,
    }
    bad = []
    for case in json.loads((fixtures / "tokenizer_golden.json").read_text()):
        got = [[t.term, t.start, t.end, t.pos_inc, t.pos_len, t.type]
               for t in chains[case["chain"]](case["input"])]
        if got != case["expected"]:
            bad.append(f"{case['chain']}: {case['input']!r}")
    for word, expected in json.loads(
            (fixtures / "stemmer_golden.json").read_text()):
        if stem(word) != expected:
            bad.append(f"stem: {word!r}")
    return bad
