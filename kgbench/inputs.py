"""Seeded benchmark inputs, generated natively from `spark.range`.

Every value comes from `xxhash64` over row keys inside Catalyst
expressions (the style of `delm_spark.data.synthetic`), so generation is
distributed and costs no driver-side row loop. The seed salts the hashes
that pick text; it never enters the hashes that decide shape. For a fixed
size the row counts (conversations, turns, docs, planted pairs) are
therefore identical for every seed, and only the words change.

Three inputs:

* `transcripts(...)`: the transcript table `run_pipeline` reads
  (conv_id, turn_idx, role, text, tool, ts). The turn-count law and the
  hot head are those of `generate_transcripts`. With `typo_rate > 0` a
  fixed share of entity mentions carry a one-letter typo of a dictionary
  surface (`typo_table`).
* `dictionary_rows()`: the canonical entity dictionary
  (surface, canonical_id, weight), identical to `entity_dictionary`.
* `docs(...)`: (doc_id, text) for the pair family, with planted
  near-duplicate copies, a hot clique and partially related docs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delm_spark.data.synthetic import (
    DISTRACTORS,
    ORGS,
    PEOPLE,
    PLACES,
    ROLES,
    TOOLS,
)

_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _stable_int(*parts) -> int:
    """Process-independent hash (Python's str hash is salted per run)."""
    h = hashlib.sha256("|".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(h[:8], "big")


def _pick(values: list[str], h: Column, shift: int) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    idx = F.shiftrightunsigned(h, shift) % len(values)
    return F.element_at(arr, (idx + 1).cast("int"))


# ---------------------------------------------------------------- dictionary

def dictionary_rows() -> list[tuple[str, str, float]]:
    """(surface, canonical_id, weight) rows, lower-cased surfaces, in the
    order `entity_dictionary` builds them."""
    return [
        (s.lower(), cid, 1.0)
        for d in (PEOPLE, ORGS, TOOLS, PLACES)
        for cid, surfs in d.items()
        for s in surfs
    ]


def typo_table(seed: int) -> dict[str, tuple[str, str]]:
    """surface -> (typo surface, canonical id): one letter of each
    dictionary surface replaced by another lower-case letter.

    Only a lower-case letter from the third character on of a word of
    four or more letters is changed, so the typo keeps the capitalised
    shape the rule extractor matches and most of the surface's trigrams.
    A typo whose normalised form is a dictionary surface, or the typo of
    another surface, is re-drawn. Surfaces without such a letter (`ACME`)
    are never typo'd."""
    taken = {s for s, _, _ in dictionary_rows()}
    out: dict[str, tuple[str, str]] = {}
    for surfaces in (PEOPLE, ORGS, TOOLS, PLACES):
        for cid, surfs in surfaces.items():
            for s in surfs:
                slots = []
                pos = 0
                for word in s.split(" "):
                    if len(word) >= 4:
                        slots += [
                            pos + i
                            for i in range(2, len(word))
                            if word[i] in _LOWER
                        ]
                    pos += len(word) + 1
                if not slots:
                    continue
                for attempt in range(64):
                    r = _stable_int("typo", seed, s, attempt)
                    i = slots[r % len(slots)]
                    c = _LOWER[(r >> 16) % 26]
                    if c == s[i]:
                        continue
                    t = s[:i] + c + s[i + 1:]
                    if t.lower() not in taken:
                        taken.add(t.lower())
                        out[s] = (t, cid)
                        break
    return out


# --------------------------------------------------------------- transcripts

def _surface_picker(surfaces, typos, h, shift, typo_hit):
    """Surface at a hash-chosen index, or its typo when `typo_hit` is
    true (surfaces without a typo stay clean). One array lookup either
    way: the typo variants sit after the clean surfaces, so the whole
    sentence stays small enough for whole-stage codegen."""
    if typos is None:
        return _pick(surfaces, h, shift)
    arr = F.array(
        *[F.lit(v) for v in surfaces + [typos.get(s, (s, None))[0] for s in surfaces]]
    )
    idx = F.shiftrightunsigned(h, shift) % len(surfaces)
    idx = idx + F.when(typo_hit, F.lit(len(surfaces))).otherwise(F.lit(0))
    return F.element_at(arr, (idx + 1).cast("int"))


def _sentence(conv, turn, k, seed, typos, typo_rate):
    """One sentence; the template mix of `generate_transcripts` (6 fact,
    1 null-word noise, 1 disallowed predicate, 4 distractor)."""
    h = F.xxhash64(F.lit(f"sent:{seed}"), conv, turn, F.lit(k))
    t = F.abs(h) % 12
    # 1/1024 resolution on the typo rate, drawn from bits no picker uses
    # (pickers read shifts 4..33; each surface slot gets its own bits)
    th = F.xxhash64(F.lit(f"typo:{seed}"), conv, turn, F.lit(k))
    thr = int(round(typo_rate * 1024))

    def hit(shift):
        return (F.shiftrightunsigned(th, shift) % 1024) < thr

    people = [s for v in PEOPLE.values() for s in v]
    orgs = [s for v in ORGS.values() for s in v]
    tools = [s for v in TOOLS.values() for s in v]
    places = [s for v in PLACES.values() for s in v]
    p1 = _surface_picker(people, typos, h, 4, hit(0))
    p2 = _surface_picker(people, typos, h, 9, hit(10))
    org = _surface_picker(orgs, typos, h, 14, hit(20))
    tool = _surface_picker(tools, typos, h, 19, hit(30))
    place = _surface_picker(places, typos, h, 24, hit(40))
    distractor = _pick(DISTRACTORS, h, 29)
    c, lit = F.concat, F.lit
    return (
        F.when(t == 0, c(p1, lit(" works at "), org, lit(".")))
        .when(t == 1, c(p1, lit(" uses the "), tool, lit(" tool.")))
        .when(t == 2, c(org, lit(" is located in "), place, lit(".")))
        .when(t == 3, c(p1, lit(" reports to "), p2, lit(".")))
        .when(t == 4, c(p1, lit(" created "), tool, lit(".")))
        .when(t == 5, c(p2, lit(" works at "), org, lit(".")))
        .when(t == 6, c(p1, lit(" works at Unknown.")))
        .when(t == 7, c(p1, lit(" dislikes "), org, lit(".")))
        .otherwise(c(distractor, lit(".")))
    )


def transcripts(
    spark: SparkSession,
    seed: int,
    n_convs: int,
    n_hot: int,
    typo_rate: float = 0.0,
) -> DataFrame:
    """Transcript table: ~11 turns per conversation plus `n_hot` hot
    conversations of 100-399 turns. Turn counts use unsalted hashes
    (shape fixed across seeds); sentences, roles and typos are salted."""
    convs = spark.range(0, n_convs, 1, spark.sparkContext.defaultParallelism)
    def h(salt):
        return F.abs(F.xxhash64(F.lit(salt), F.col("id")))

    n_turns = (
        F.when(F.col("id") < n_hot, h("hot") % 300 + 100).otherwise(h("len") % 19 + 2)
    ).cast("int")
    df = convs.select(
        F.format_string("conv_%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("_conv_no"),
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    )
    typos = typo_table(seed) if typo_rate > 0 else None
    conv, turn = F.col("conv_id"), F.col("turn_idx")
    ht = F.xxhash64(F.lit(f"turn:{seed}"), conv, turn)
    n_sents = (F.abs(ht) % 3 + 1).cast("int")
    sents = F.slice(
        F.array(*[_sentence(conv, turn, k, seed, typos, typo_rate) for k in range(3)]),
        1,
        n_sents,
    )
    para = (F.shiftrightunsigned(ht, 2) % 4) == 0
    text = F.when(para, F.array_join(sents, "\n\n")).otherwise(
        F.array_join(sents, " ")
    )
    role = _pick(ROLES, ht, 5)
    tool_surfaces = [s for v in TOOLS.values() for s in v]
    return df.select(
        conv,
        turn,
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", _pick(tool_surfaces, ht, 9)).alias("tool"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("_conv_no") * 3600 + turn.cast("long")
        ).alias("ts"),
    )


# ---------------------------------------------------------------------- docs

#: pseudo-word vocabulary for the pair-family docs: fixed across seeds
VOCAB = [
    "".join(
        "bcdfghjklmnprstvz"[(_stable_int("v", i, j) >> 8) % 17]
        + "aeiou"[_stable_int("v", i, j) % 5]
        for j in range(2 + i % 3)
    )
    for i in range(4096)
]


def doc_layout(n_docs: int, clique: int) -> dict:
    """Fixed doc-id layout (seed-free). Ids below `base` are independent
    docs; then `pairs` near-duplicate copies (copy `base + i` of doc `i`),
    a hot clique of `clique` copies of doc `pairs` (one more source), and
    `related` docs that share their first half with doc `pairs + 1 + i`.
    """
    pairs = n_docs // 20
    related = n_docs // 20
    base = n_docs - pairs - clique - related
    return {
        "n_docs": n_docs,
        "base": base,
        "pairs": pairs,
        "clique": clique,
        "related": related,
    }


def planted_pairs(layout: dict) -> list[tuple[int, int]]:
    """(source, copy) pairs that differ by one substituted word."""
    b, p, c = layout["base"], layout["pairs"], layout["clique"]
    out = [(i, b + i) for i in range(p)]
    out += [(p, b + p + j) for j in range(c)]
    return out


def docs(spark: SparkSession, seed: int, n_docs: int, words: int, clique: int) -> DataFrame:
    """(doc_id, text). Each word is drawn from VOCAB by a seeded hash of
    (source doc, position); a copy reuses its source's hashes and swaps
    one position for another word. A related doc keeps its source's
    first half and draws the second half afresh."""
    lay = doc_layout(n_docs, clique)
    b, p, c = lay["base"], lay["pairs"], lay["clique"]
    ids = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism)
    i = F.col("id")
    is_pair = (i >= b) & (i < b + p)
    is_clique = (i >= b + p) & (i < b + p + c)
    is_related = i >= b + p + c
    src = (
        F.when(is_pair, i - b)
        .when(is_clique, F.lit(p).cast("long"))
        .when(is_related, i - (b + p + c) + p + 1)
        .otherwise(i)
    )
    swap_pos = F.abs(F.xxhash64(F.lit(f"swap:{seed}"), i)) % words
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    salt = F.lit(f"w:{seed}")

    def word(pos):
        own = F.xxhash64(salt, src, pos)
        fresh = F.xxhash64(F.lit(f"x:{seed}"), i, pos)
        h = (
            F.when((is_pair | is_clique) & (pos == swap_pos), fresh)
            .when(is_related & (pos >= words // 2), fresh)
            .otherwise(own)
        )
        return F.element_at(vocab, (F.abs(h) % len(VOCAB) + 1).cast("int"))

    text = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(words - 1)), word), " "
    )
    return ids.select(i.alias("doc_id"), text.alias("text"))
