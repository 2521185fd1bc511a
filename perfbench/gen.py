"""Seeded generation of the benchmark's corpus and query sets.

Everything here is a pure function of the seed: the same seed gives a
byte-identical corpus and query set, another seed gives different ones.
The engine only ever receives the generated rows and query strings.

Corpus rows follow the ``(repo, path, commit, lang, content)`` schema.
Content is code-like text: identifiers built from a Zipf-weighted word
list in camelCase, PascalCase, snake_case, SCREAMING_CASE and
digit-mixed forms (so the word-delimiter filter splits and catenates),
and stopword-rich comments (so the stop filter leaves position holes and
the stemmer sees inflected words).  ``(repo, path)`` is unique.
"""

from __future__ import annotations

import itertools
import random

# Lucene's English stop set, spelled out here so the generator does not
# read the engine's own list.
STOPWORDS = ("a an and are as at be but by for if in into is it no not of "
             "on or such that the their then there these they this to was "
             "will with").split()

_ONSETS = ("b c d f g h j k l m n p r s t v w z br ch cl dr fl gr pl pr sh "
           "sp st th tr").split()
_VOWELS = "a e i o u a e i o ea ou".split()
_CODAS = ["", "", "", "", "n", "r", "s", "t", "l", "ck", "nd"]
_SUFFIXES = ["", "", "", "", "s", "ed", "ing", "er", "ers", "ation", "ness",
             "ly", "able", "ize", "ful", "ment"]

LANGS = (("php", "php"), ("java", "java"), ("python", "py"), ("go", "go"),
         ("javascript", "js"))

N_WORDS = 2000          # base word list
N_IDENTS = 4000         # identifier pool
ZIPF_S = 1.07


def _zipf_cum(n: int, s: float = ZIPF_S) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


class Vocabulary:
    """Base words and identifiers for one seed, with Zipf weights."""

    def __init__(self, seed: int | str):
        rng = random.Random(f"perfbench-vocab-{seed}")
        stop = set(STOPWORDS)
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < N_WORDS:
            w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                        + rng.choice(_CODAS)
                        for _ in range(rng.choice((1, 2, 2, 2, 3))))
            w += rng.choice(_SUFFIXES)
            if len(w) < 4 or w in seen or w in stop:
                continue
            seen.add(w)
            words.append(w)
        self.words = words                 # index = Zipf rank - 1
        self.word_cum = _zipf_cum(len(words))
        idents: list[str] = []
        seen_ids: set[str] = set()
        while len(idents) < N_IDENTS:
            parts = self.sample_words(rng, rng.choice((1, 2, 2, 2, 3)))
            ident = _render_ident(rng, parts)
            if ident not in seen_ids:
                seen_ids.add(ident)
                idents.append(ident)
        self.idents = idents
        self.ident_cum = _zipf_cum(len(idents))

    def sample_words(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.word_cum, k=n)

    def sample_idents(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.idents, cum_weights=self.ident_cum, k=n)


def _render_ident(rng: random.Random, parts: list[str]) -> str:
    style = rng.randrange(5)
    if style == 0:                       # camelCase
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    if style == 1:                       # PascalCase
        return "".join(p.capitalize() for p in parts)
    if style == 2:                       # snake_case
        return "_".join(parts)
    if style == 3:                       # SCREAMING_CASE
        return "_".join(parts).upper()
    # digit-mixed: utf8Decoder, sha256_sum, v2Parser
    digits = str(rng.choice((2, 3, 8, 16, 32, 64, 256, 1024)))
    head = parts[0][:rng.randint(1, 3)]
    return head + digits + "".join(p.capitalize() for p in parts[1:])


def _comment(rng: random.Random, vocab: Vocabulary) -> str:
    n = rng.randint(6, 16)
    words = vocab.sample_words(rng, n)
    out = []
    for w in words:
        if rng.random() < 0.45:
            out.append(rng.choice(STOPWORDS))
        out.append(w)
    return " ".join(out)


def _code_line(rng: random.Random, vocab: Vocabulary, lang: str) -> str:
    a, b, c = vocab.sample_idents(rng, 3)
    var = ("$" if lang == "php" else "")
    form = rng.randrange(6)
    if form == 0:
        return f"{var}{a} = {b}({var}{c}, {rng.randint(0, 4096)});"
    if form == 1:
        return f"function {a}({var}{b}, {var}{c}) {{"
    if form == 2:
        return f"return {var}{a}->{b}({var}{c});"
    if form == 3:
        return f"if ({var}{a} == {b}.{c}) {{"
    if form == 4:
        return f"{var}{a}.{b}(\"{' '.join(vocab.sample_words(rng, 2))}\");"
    return f"}} // {c}"


def part_seed(seed: int, part: int) -> int | str:
    """Seed of corpus ``part`` of a run.  Part 0 is ``seed`` itself; every
    other part has a vocabulary of its own, so what the analyzer cached
    for one part does little for the next."""
    return seed if part == 0 else f"{seed}.{part}"


def corpus(seed: int | str, n_docs: int) -> list[tuple]:
    """``n_docs`` rows ``(repo, path, commit, lang, content)``; content
    averages about 1.5 KB."""
    vocab = Vocabulary(seed)
    rng = random.Random(f"perfbench-corpus-{seed}")
    repos = [f"{rng.choice(vocab.words[:200])}-{i}/{rng.choice(vocab.words)}"
             for i in range(max(1, n_docs // 40))]
    rows = []
    for i in range(n_docs):
        lang, ext = LANGS[rng.randrange(len(LANGS))]
        target = min(3000, max(400, int(rng.gauss(1500, 450))))
        lines: list[str] = []
        size = 0
        while size < target:
            if rng.random() < 0.35:
                ln = "// " + _comment(rng, vocab)
            else:
                ln = "    " * rng.randrange(3) + _code_line(rng, vocab, lang)
            lines.append(ln)
            size += len(ln) + 1
        path = f"src/{rng.choice(vocab.words[:300])}/{i:06d}.{ext}"
        commit = "%040x" % rng.getrandbits(160)
        rows.append((rng.choice(repos), path, commit, lang, "\n".join(lines)))
    return rows


# ----------------------------------------------------------------- queries
# A query is a (kind, payload) pair.  Kinds and the engine call each maps to:
#   bm25     search(text)                     payload: text
#   fuzzy    search_fuzzy(text)               payload: text
#   phrase   phrase(text)                     payload: text
#   boolean  query(text)                      payload: Tree
# A Tree is ("node", must, should, nots) with leaves ("term", word),
# ("fuzzy", word, edits) and ("phrase", text); ``render`` turns it into
# classic query syntax and the oracle evaluates the tree itself.

def render(tree) -> str:
    kind = tree[0]
    if kind == "term":
        return tree[1]
    if kind == "fuzzy":
        return f"{tree[1]}~{tree[2]}"
    if kind == "phrase":
        return f'"{tree[1]}"'
    _, must, should, nots = tree
    parts = ([f"+{_group(c)}" for c in must] + [_group(c) for c in should]
             + [f"-{_group(c)}" for c in nots])
    return " ".join(parts)


def _group(c) -> str:
    if c[0] != "node":
        return render(c)
    _, must, should, nots = c
    if not must and not nots:
        return "(" + " OR ".join(render(x) for x in should) + ")"
    return "(" + render(c) + ")"


def _typo(rng: random.Random, word: str) -> str:
    i = rng.randrange(1, len(word))
    ch = rng.choice("aeioustrnl".replace(word[i], ""))
    return word[:i] + ch + word[i + 1:]


def _phrase_from(rng: random.Random, docs: list[tuple], n: int) -> str:
    """``n`` consecutive comment words of a random doc, so every phrase
    matches at least one doc (stopwords inside are kept)."""
    while True:
        content = docs[rng.randrange(len(docs))][4]
        comments = [ln[3:].split() for ln in content.split("\n")
                    if ln.startswith("// ")]
        comments = [c for c in comments if len(c) >= 4]
        if not comments:
            continue
        words = rng.choice(comments)
        i = rng.randrange(len(words) - n + 1)
        span = words[i:i + n]
        if span[0] in STOPWORDS or span[-1] in STOPWORDS:
            continue
        return " ".join(span)


class QueryGen:
    """Seeded query stream over one corpus.

    ``skewed=False`` draws words uniformly from the mid-frequency band of
    the word list (queries share few terms); ``skewed=True`` draws them
    Zipf-weighted from the whole list (queries share terms heavily).
    Query shapes (word counts, phrase lengths, boolean forms) cycle in a
    fixed order, so every seed sends the same mix and only the words
    differ."""

    MID_BAND = (40, 800)

    def __init__(self, seed: int | str, docs: list[tuple], skewed: bool,
                 stream: str):
        self.vocab = Vocabulary(seed)
        self.docs = docs
        self.skewed = skewed
        self.rng = random.Random(f"perfbench-queries-{stream}-{seed}")
        self._shape = {k: itertools.cycle(v) for k, v in (
            ("bm25", (2, 3, 4)), ("fuzzy", (1, 2)), ("phrase", (2, 3, 2)),
            ("boolean", range(5)))}

    def _words(self, n: int, min_len: int = 0) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            if self.skewed:
                w = self.vocab.sample_words(self.rng, 1)[0]
            else:
                lo, hi = self.MID_BAND
                w = self.vocab.words[self.rng.randrange(lo, hi)]
            if len(w) >= min_len and w not in out:
                out.append(w)
        return out

    def bm25(self):
        return ("bm25", " ".join(self._words(next(self._shape["bm25"]))))

    def fuzzy(self):
        words = self._words(next(self._shape["fuzzy"]), min_len=7)
        return ("fuzzy", " ".join(_typo(self.rng, w) for w in words))

    def phrase(self):
        return ("phrase", _phrase_from(self.rng, self.docs,
                                       next(self._shape["phrase"])))

    def boolean(self):
        rng = self.rng
        w = self._words(5)
        form = next(self._shape["boolean"])
        term = lambda x: ("term", x)
        if form == 0:       # +a +b c
            tree = ("node", (term(w[0]), term(w[1])), (term(w[2]),), ())
        elif form == 1:     # +a c d -b
            tree = ("node", (term(w[0]),), (term(w[2]), term(w[3])),
                    (term(w[1]),))
        elif form == 2:     # +(a OR b) +c -d
            tree = ("node", (("node", (), (term(w[0]), term(w[1])), ()),
                             term(w[2])), (), (term(w[3]),))
        elif form == 3:     # a b c -"phrase"
            tree = ("node", (), (term(w[0]), term(w[1]), term(w[2])),
                    (("phrase", _phrase_from(rng, self.docs, 2)),))
        else:               # +a (b OR c) d~1
            fz = self._words(1, min_len=7)[0]
            tree = ("node", (term(w[0]),),
                    (("node", (), (term(w[1]), term(w[2])), ()),
                     ("fuzzy", _typo(rng, fz), 1)), ())
        return ("boolean", tree)

    def mixed(self, kinds: tuple[str, ...]):
        """Endless stream cycling through ``kinds`` in order."""
        for kind in itertools.cycle(kinds):
            yield getattr(self, kind)()
