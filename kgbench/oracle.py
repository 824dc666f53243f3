"""Pure-Python expectations for the benchmark's output checks.

Nothing here runs Spark. The KG side rebuilds the edges of a few
conversations from their turn text with the per-row rule extractor
(`RuleTripleExtractor.extract_raw` + `clean_response`) and a dictionary
lookup; the pair side recomputes SimHash Hamming distances and shingle
Jaccard scores from the doc text.
"""

from __future__ import annotations

import hashlib
import math
import re

from delm_spark.constants import PARAGRAPH_SPLIT_REGEX
from delm_spark.data.synthetic import FACT_KEYWORDS, TRIPLE_SCHEMA_CFG
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.schemas.clean import clean_response
from delm_spark.schemas.spec import spec_from_dict

_WS = re.compile(r"\s+")
_SPLIT = re.compile(PARAGRAPH_SPLIT_REGEX)


def normalize(s: str) -> str:
    """Mention / doc normalization: collapse whitespace, trim, lower."""
    return _WS.sub(" ", s).strip(" ").lower()


def chunks_of(text: str) -> list[str]:
    pieces = _SPLIT.split(text) if "\n" in text else [text]
    return [p for p in (x.strip(" \t\n\x0b\f\r") for x in pieces) if p]


def canonical_labels(dictionary: list[tuple[str, str, float]]) -> dict[str, str]:
    """node -> component representative (smallest non-mention node) over
    the dictionary's alias graph, as the pipeline defines it."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for surface, cid, _ in dictionary:
        a, b = find(f"mention:{surface}"), find(cid)
        if a != b:
            parent[a] = b
    best: dict[str, str] = {}
    for node in list(parent):
        r = find(node)
        if not node.startswith("mention:") and (r not in best or node < best[r]):
            best[r] = node
    return {node: best.get(find(node), find(node)) for node in parent}


def trigram_vector(surface: str, dim: int) -> list[int]:
    """Hashed character-trigram counts of a normalized surface ('^s$'
    padded windows, bucket = first four hex digits of md5 mod dim)."""
    padded = "^" + surface + "$"
    v = [0] * dim
    for i in range(max(len(padded) - 2, 1)):
        v[int(hashlib.md5(padded[i:i + 3].encode()).hexdigest()[:4], 16) % dim] += 1
    return v


def cosine(a: list[int], b: list[int]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    den = math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
    return num / den if den else 0.0


class KgOracle:
    """Expected edges of one conversation's turns.

    `typos` (surface -> (typo, canonical id)) lists the planted typos.
    The embedding residue pass may leave a typo unlinked or link it to
    any entity with a surface whose trigram cosine reaches `threshold`
    (its documented contract: best LSH candidate above the threshold);
    `check_residue` counts the links that miss the planted entity."""

    def __init__(self, dictionary, typos=None, threshold: float = 0.5, dim: int = 64):
        self.spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
        self.extractor = RuleTripleExtractor(self.spec)
        self.keywords = [k.lower() for k in FACT_KEYWORDS]
        self.ids = {s: cid for s, cid, _ in dictionary}
        self.labels = canonical_labels(dictionary)
        #: normalized typo surface -> planted canonical id
        self.typos = {normalize(t): cid for t, cid in (typos or {}).values()}
        vecs = {s: trigram_vector(s, dim) for s in self.ids}
        #: typo -> ids of entities with a surface at or above the threshold
        self.reachable = {
            t: {self.ids[s] for s, v in vecs.items()
                if cosine(trigram_vector(t, dim), v) >= threshold}
            for t in self.typos
        }

    def entity_ids(self, surface: str) -> set[str]:
        """Ids the pipeline may assign: the dictionary id, else the
        mention id, or for a planted typo any entity it reaches."""
        n = normalize(surface)
        if n in self.ids:
            return {self.ids[n]}
        return {f"mention:{n}"} | self.reachable.get(n, set())

    def edges(self, turns) -> list[tuple]:
        """turns: iterable of (conv_id, turn_idx, text). Returns sorted
        (conv_id, turn_idx, chunk_pos, item_pos, subj, pred, obj)."""
        out = []
        for conv, turn, text in turns:
            for pos, chunk in enumerate(chunks_of(text or "")):
                low = chunk.lower()
                if not any(k in low for k in self.keywords):
                    continue
                cleaned = clean_response(
                    self.extractor.extract_raw(chunk), self.spec, chunk
                )
                for i, it in enumerate(cleaned.get(self.spec.container_name, [])):
                    out.append((conv, turn, pos, i, it["subj"], it["pred"], it["obj"]))
        return sorted(out)

    def check_edges(self, turns, engine_rows) -> list[str]:
        """Compare the engine's edges of these conversations with the
        rebuild. `engine_rows`: (conv_id, turn_idx, chunk_pos, item_pos,
        subj, pred, obj, subj_id, obj_id, subj_canonical, obj_canonical).
        Returns a list of failure messages (empty = pass)."""
        got = sorted(tuple(r) for r in engine_rows)
        want = self.edges(turns)
        errs = []
        if [g[:7] for g in got] != want:
            errs.append(
                f"edge keys/text differ: engine {len(got)} rows, rebuild {len(want)}"
            )
        for g in got:
            subj, obj, sid, oid, sc, oc = g[4], g[6], g[7], g[8], g[9], g[10]
            if sid not in self.entity_ids(subj) or oid not in self.entity_ids(obj):
                errs.append(f"wrong entity id in {g}")
            elif sc != self.labels.get(sid, sid) or oc != self.labels.get(oid, oid):
                errs.append(f"wrong canonical id in {g}")
            if len(errs) > 5:
                break
        return errs

    def check_residue(self, surface_ids) -> tuple[list[str], dict]:
        """`surface_ids`: distinct (surface, id) pairs of edge endpoints
        whose normalized surface is not a dictionary surface. Every one
        must be a planted typo, left as its mention id or linked to an
        entity it reaches. Returns (failures, counts of typo surfaces
        seen / linked / linked to the planted entity / linked elsewhere)."""
        errs = []
        seen, linked, planted, wrong = set(), set(), set(), []
        for surface, eid in surface_ids:
            n = normalize(surface)
            if n not in self.typos:
                errs.append(f"unlinked mention {surface!r} is not a planted typo")
                continue
            seen.add(n)
            if eid == f"mention:{n}":
                continue
            linked.add(n)
            if eid == self.typos[n]:
                planted.add(n)
            elif eid in self.reachable[n]:
                wrong.append(f"{n}->{eid}")
            else:
                errs.append(f"typo {surface!r} linked to {eid!r} below the link threshold")
        counts = {"seen": len(seen), "linked": len(linked),
                  "linked_planted": len(planted), "linked_elsewhere": sorted(wrong)}
        return errs, counts


# ----------------------------------------------------------------- pair side

def simhash(text: str) -> int:
    toks = set(normalize(text).split(" "))
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    n = len(hs)
    out = 0
    for b in range(60):
        if 2 * sum((h >> b) & 1 for h in hs) >= n:
            out |= 1 << b
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    w = normalize(text).split(" ")
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


class PairOracle:
    def __init__(self, texts: dict[int, str], planted, max_hamming: int, threshold: float):
        self.texts = texts
        self.planted = planted
        self.max_hamming = max_hamming
        self.threshold = threshold
        self._sim: dict[int, int] = {}

    def _sh(self, i: int) -> int:
        if i not in self._sim:
            self._sim[i] = simhash(self.texts[i])
        return self._sim[i]

    def hamming(self, a: int, b: int) -> int:
        return bin(self._sh(a) ^ self._sh(b)).count("1")

    def check(self, simhash_pairs, verified_pairs) -> list[str]:
        """simhash_pairs: (id_a, id_b, hamming); verified_pairs:
        (id_a, id_b, jaccard). Returns failure messages."""
        errs = []
        sim = {(a, b) for a, b, _ in simhash_pairs}
        for a, b, h in simhash_pairs:
            if not a < b or h != self.hamming(a, b) or h > self.max_hamming:
                errs.append(f"simhash pair {(a, b, h)} recomputes to {self.hamming(a, b)}")
        ver = {(a, b) for a, b, _ in verified_pairs}
        for a, b, j in verified_pairs:
            want = jaccard(self.texts[a], self.texts[b])
            if not a < b or abs(j - want) > 1e-12 or j < self.threshold:
                errs.append(f"verified pair {(a, b, j)} recomputes to {want}")
        if len(sim) != len(simhash_pairs) or len(ver) != len(verified_pairs):
            errs.append("duplicate pairs reported")
        for a, b in self.planted:
            if (a, b) not in ver:
                errs.append(f"planted pair {(a, b)} not verified")
            if self.hamming(a, b) <= self.max_hamming and (a, b) not in sim:
                errs.append(f"planted pair {(a, b)} within Hamming bound but missed")
        return errs[:10]
