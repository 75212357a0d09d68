"""Seeded input generators: the transcript corpus and the query streams.

Everything here is a pure function of its arguments (no Spark, no clock),
so the same seed always yields the same corpus and the same queries.

The corpus has the shape of ``transcripts.replicated_enriched_corpus`` over
the sf0.1 ``documents`` table, whose text was measured (5,000 rows): every
row holds 10-99 words, lengths uniform, drawn from a 30-word vocabulary
with flat frequencies (8,829-9,182 occurrences each), and 5% of rows end
in the word ``dup``; 297 bytes a row. ``transcripts_from_documents`` maps
row ``d`` to ``conv_{d % 101}``, turn ``d // 101``, role ``d % 4``, tool
``d % 3`` and ``ts`` = epoch + 60 s × ``d``, and the enrichment appends
four ``u…`` and one ``v…`` near-unique hex tokens and one ``pre…``
shared-prefix token per turn: about 350 bytes a turn, and each base word
in 76-79% of the turns. The generator draws the words from that
distribution with the seed. Unlike the source, 1% of turns are empty and
1% blank (FIXTURES.md §1 asks for both), which the index drops.
"""
from __future__ import annotations

import random

#: the ``documents`` table's words (flat frequencies), and the word 5% of
#: its rows end in; together the 31-word base vocabulary
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
DUP, DUP_SHARE = "dup", 0.05
BASE_VOCAB = WORDS + [DUP]
MIN_WORDS, MAX_WORDS = 10, 99
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", None, "code")
N_CONV = 101
EPOCH_S = 1_767_225_600          # 2026-01-01T00:00:00Z

TX_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts_s")


def corpus_rows(seed: int, n_turns: int, first_turn: int = 0) -> dict:
    """Columns of ``n_turns`` transcript turns, numbered from ``first_turn``
    (so appended batches get fresh ``(conv_id, turn_idx)`` keys). ``ts_s``
    is epoch seconds. Returns a dict of equal-length lists."""
    rng = random.Random(f"corpus:{seed}:{first_turn}")
    cols: dict = {c: [] for c in TX_COLUMNS}
    for i in range(first_turn, first_turn + n_turns):
        words = rng.choices(WORDS, k=rng.randint(MIN_WORDS, MAX_WORDS))
        if rng.random() < DUP_SHARE:
            words.append(DUP)
        hx = f"{rng.getrandbits(128):032x}"
        words += ["u" + hx[0:7], "u" + hx[7:14], "u" + hx[14:21],
                  "u" + hx[21:28], "v" + hx[2:9], "pre" + hx[28:31]]
        r = rng.random()
        cols["conv_id"].append(f"conv_{i % N_CONV:04d}")
        cols["turn_idx"].append(i // N_CONV)
        cols["role"].append(ROLES[i % 4])
        cols["text"].append("" if r < 0.01 else (
            "   " if r < 0.02 else " ".join(words)))
        cols["tool"].append(TOOLS[i % 3])
        cols["ts_s"].append(EPOCH_S + 60 * i)
    return cols


def non_empty(cols: dict) -> int:
    """Turns the index keeps: those whose text has at least one token."""
    return sum(1 for t in cols["text"] if t.strip())


def rare_terms(cols: dict) -> list:
    """The ``u…``/``v…`` tokens of the given turns, in corpus order."""
    out = []
    for t in cols["text"]:
        out.extend(w for w in t.split() if w[0] in "uv" and len(w) == 8)
    return out


# ---------------------------------------------------------------------------
# Query streams. A query is a (method, args, kwargs) triple in the shard
# daemon's protocol: ``search`` takes SearchParams fields as a dict.
# ---------------------------------------------------------------------------

def _fuzz(rng: random.Random, w: str) -> str:
    """One edit (substitute, delete or transpose) inside a word of length
    >= 4; the AUTO fuzziness of such a word allows it."""
    i = rng.randrange(1, len(w) - 1)
    op = rng.randrange(3)
    if op == 0:
        return w[:i] + ("x" if w[i] != "x" else "z") + w[i + 1:]
    if op == 1:
        return w[:i] + w[i + 1:]
    return w[:i - 1] + w[i] + w[i - 1] + w[i + 1:]


def hot_queries(seed: int, n: int, k: int = 10) -> list:
    """``n`` queries of base-vocabulary terms over every serving path:
    OR/AND BM25, multi-field dis_max, the full search composition with
    phrase tiers and recency, prefix, fuzzy, and phrase. The path cycles
    with the query index and the term count (1-3) with every eighth, so
    any 24 consecutive queries hold the same mix; the seed picks terms."""
    rng = random.Random(f"hot:{seed}")
    long_words = [w for w in BASE_VOCAB if len(w) >= 4]
    out = []
    for i in range(n):
        terms = rng.sample(BASE_VOCAB, 1 + (i // 8) % 3)
        q = " ".join(terms)
        kind = i % 8
        if kind == 0:
            out.append(("bm25_topk", [q], {"k": k}))
        elif kind == 1:
            out.append(("bm25_topk", [q], {"k": k, "require_all": True}))
        elif kind == 2:
            out.append(("dismax_topk", [q], {"k": k}))
        elif kind == 3:
            out.append(("search", [{"query": q, "k": k, "multifield": True,
                                    "phrase_tiers": True,
                                    "recency": True}], {}))
        elif kind == 4:
            out.append(("search", [{"query": q, "k": k,
                                    "operator": "and"}], {}))
        elif kind == 5:
            w = rng.choice(long_words)
            pq = " ".join(terms[:-1] + [w[:2 + i % 2]])
            out.append(("search", [{"query": pq, "k": k,
                                    "prefix": True}], {}))
        elif kind == 6:
            w = rng.choice(long_words)
            out.append(("search", [{"query": _fuzz(rng, w), "k": k,
                                    "fuzzy": True}], {}))
        else:
            out.append(("phrase_match", [" ".join(rng.sample(
                BASE_VOCAB, 2))], {}))
    return out


def tail_queries(seed: int, n: int, rare: list, k: int = 10) -> list:
    """``n`` queries of rare ``u…``/``v…`` tokens sampled from the corpus
    (so they exist), plus ``pre`` + one hex digit prefix queries, each of
    which expands to the 200-term cap. Paths and term counts cycle as in
    :func:`hot_queries`."""
    rng = random.Random(f"tail:{seed}")
    out = []
    for i in range(n):
        q = " ".join(rng.choice(rare) for _ in range(1 + (i // 8) % 3))
        kind = i % 8
        if kind <= 2:
            out.append(("bm25_topk", [q], {"k": k}))
        elif kind == 3:
            out.append(("dismax_topk", [q], {"k": k}))
        elif kind <= 5:
            out.append(("search", [{"query": q, "k": k, "multifield": True,
                                    "phrase_tiers": True,
                                    "recency": True}], {}))
        elif kind == 6:
            out.append(("search", [{"query": q + " pre" + "0123456789abcdef"[
                rng.randrange(16)], "k": k, "prefix": True}], {}))
        else:
            out.append(("phrase_match", [q], {}))
    return out


def engine_queries(seed: int, rare: list, k: int = 10,
                   tail: bool = False, rounds: int = 2) -> list:
    """The Spark-engine batch, each query a (name, function, args, kwargs)
    tuple; ``rounds`` rounds of the same shapes with fresh terms, the
    round's number suffixed to the name. The hot batch asks
    base-vocabulary words: BM25 top-k pruned and unpruned (the two must
    agree) and the full ``search`` composition, whose phrase tiers run
    ``phrase_match``. The tail batch asks rare tokens: BM25 AND (a word and
    a rare token), dis_max, and a phrase prefix of two tokens adjacent in a
    corpus turn and a 4-character ``u`` prefix (a few dozen
    expansions)."""
    rng = random.Random(f"engine:{seed}:{tail}")

    def words(n):
        return " ".join(rng.sample(BASE_VOCAB, n))

    def rares(n):
        return " ".join(rng.choice(rare) for _ in range(n))

    out = []
    for r in range(rounds):
        if not tail:
            bm25 = words(3)
            out += [
                (f"bm25_pruned.{r}", "bm25_topk", [bm25],
                 {"k": k, "prune": True}),
                (f"bm25_unpruned.{r}", "bm25_topk", [bm25],
                 {"k": k, "prune": False}),
                (f"search.{r}", "search", [{
                    "query": words(2), "k": k, "multifield": True,
                    "phrase_tiers": True, "recency": True}], {})]
            continue
        # every kept turn contributes its five u/v tokens in text order, so
        # rare[5j + a], rare[5j + a + 1], rare[5j + a + 2] are adjacent,
        # a < 3
        j = 5 * rng.randrange(len(rare) // 5) + rng.randrange(3)
        out += [
            (f"bm25_and.{r}", "bm25_topk", [f"{words(1)} {rares(1)}"],
             {"k": k, "require_all": True}),
            (f"dismax.{r}", "dismax_topk", [rares(3)], {"k": k}),
            (f"phrase_prefix.{r}", "phrase_prefix_match",
             [f"{rare[j]} {rare[j + 1]} {rare[j + 2][:4]}"], {})]
    return out
