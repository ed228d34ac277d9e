"""Deterministic input generators. The same seed gives byte-identical
inputs; :func:`digest` hashes them for the run record.

Schemas are generated as Iceberg metadata JSON (the serializer's input
format) so the benchmark feeds the package exactly what a user would.
"""

from __future__ import annotations

import bisect
import copy
import hashlib
import json
import random

PRIMS = ["string", "int", "long", "float", "double", "boolean", "date",
         "timestamp", "binary", "decimal(10, 2)"]
WIDEN = {"int": "long", "float": "double", "decimal(10, 2)": "decimal(14, 2)"}

#: op kind planted in the new schema -> evolution op class name
OP_OF_KIND = {
    "rename": "RenameColumn", "add": "AddColumn", "drop": "DropColumn",
    "widen": "UpdateColumn", "nullability": "SetNullability", "move": "MoveColumn",
}


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else json.dumps(p, sort_keys=True).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# schema pairs
# ---------------------------------------------------------------------------


class _Ids:
    def __init__(self) -> None:
        self.next = 1

    def take(self) -> int:
        self.next += 1
        return self.next - 1


def _prim_field(rng, ids, name) -> dict:
    return {"id": ids.take(), "name": name, "required": rng.random() < 0.3,
            "type": rng.choice(PRIMS)}


def _field(rng, ids, name, depth) -> dict:
    r = rng.random()
    if depth < 2 and r < 0.12:
        fid = ids.take()
        n = rng.randint(3, 8)
        return {"id": fid, "name": name, "required": False, "type": {
            "type": "struct",
            "fields": [_field(rng, ids, f"{name}_{i}", depth + 1) for i in range(n)],
        }}
    if r < 0.22:
        fid, eid = ids.take(), ids.take()
        elem = rng.choice(PRIMS) if rng.random() < 0.7 else {
            "type": "struct",
            "fields": [_prim_field(rng, ids, f"e{i}") for i in range(rng.randint(2, 4))],
        }
        return {"id": fid, "name": name, "required": False, "type": {
            "type": "list", "element-id": eid, "element": elem,
            "element-required": False}}
    if r < 0.30:
        fid, kid, vid = ids.take(), ids.take(), ids.take()
        return {"id": fid, "name": name, "required": False, "type": {
            "type": "map", "key-id": kid, "key": "string", "value-id": vid,
            "value": rng.choice(PRIMS), "value-required": False}}
    return _prim_field(rng, ids, name)


def _structs(fields: list[dict], path=()):
    """(fields list, path) of the top level and every struct nested through
    struct fields (not through lists or maps: nested changes there are
    whole-type changes)."""
    yield fields, path
    for f in fields:
        t = f["type"]
        if isinstance(t, dict) and t["type"] == "struct":
            yield from _structs(t["fields"], path + (f["id"],))


def lis_length(seq: list[int]) -> int:
    tails: list[int] = []
    for x in seq:
        i = bisect.bisect_left(tails, x)
        if i == len(tails):
            tails.append(x)
        else:
            tails[i] = x
    return len(tails)


def schema_pair(rng: random.Random, width: int) -> dict:
    """One (old, new) schema pair with planted changes. Returns the two
    JSON texts and the expected count of each evolution op kind."""
    ids = _Ids()
    fields = [_field(rng, ids, f"c{i}", 0) for i in range(width)]
    old = {"type": "struct", "schema-id": 0, "fields": fields}
    new = copy.deepcopy(old)
    new["schema-id"] = 1
    scale = max(1, width // 25)
    used: set[int] = set()
    want = {k: 0 for k in OP_OF_KIND}

    # every primitive field reachable through structs, with its parent list
    prims = [(fl, f) for fl, _ in _structs(new["fields"]) for f in fl
             if isinstance(f["type"], str)]
    rng.shuffle(prims)

    def pick(pred, n):
        out = []
        for fl, f in prims:
            if len(out) == n:
                break
            if f["id"] not in used and pred(f):
                used.add(f["id"])
                out.append((fl, f))
        return out

    for fl, f in pick(lambda f: True, scale):
        fl.remove(f)
        want["drop"] += 1
    for _fl, f in pick(lambda f: f["type"] in WIDEN, scale):
        f["type"] = WIDEN[f["type"]]
        want["widen"] += 1
    for _fl, f in pick(lambda f: f["required"], scale):
        f["required"] = False
        want["nullability"] += 1
    # renames may hit any field, structs included (their children still
    # diff by id underneath)
    named = [f for fl, _ in _structs(new["fields"]) for f in fl if f["id"] not in used]
    rng.shuffle(named)
    for f in named[: 2 * scale]:
        used.add(f["id"])
        f["name"] = f"{f['name']}_r"
        want["rename"] += 1
    targets = list(_structs(new["fields"]))
    for i in range(scale):
        fl, _ = rng.choice(targets)
        fl.insert(rng.randint(0, len(fl)), {
            "id": ids.take(), "name": f"added_{i}", "required": False,
            "type": rng.choice(PRIMS)})
        want["add"] += 1
    top = new["fields"]
    for _ in range(max(1, width // 40)):
        f = top.pop(rng.randrange(len(top)))
        top.insert(rng.randint(0, len(top)), f)
    old_pos = {f["id"]: i for i, f in enumerate(old["fields"])}
    common = [old_pos[f["id"]] for f in top if f["id"] in old_pos]
    # the fewest moves that restore the order: all but a longest run of
    # fields already in order
    want["move"] = len(common) - lis_length(common)
    return {
        "old": json.dumps(old),
        "new": json.dumps(new),
        "want": {OP_OF_KIND[k]: v for k, v in want.items() if v},
        "fields": width,
    }


def schema_pairs(seed: int, n: int = 256, tail: int = 8) -> list[dict]:
    """``n`` pairs: ``n - tail`` of 10-100 top-level fields and ``tail`` of
    1,000-2,000, in a seeded order."""
    rng = random.Random(seed)
    widths = _stratified(rng, n - tail, 10, 100)
    rng.shuffle(widths)
    # the wide pairs sit at even spacing, so any window of ops holds its
    # share of them
    step = n // tail
    for i, w in enumerate(_stratified(rng, tail, 1000, 2000)):
        widths.insert(i * step + rng.randrange(step), w)
    return [schema_pair(rng, w) for w in widths]


def _stratified(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` draws from [lo, hi], one per equal-width stratum: seeds differ
    in detail but not in the width distribution."""
    return [lo + int((i + rng.random()) * (hi - lo + 1) / n) for i in range(n)]


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

#: Docs with fewer words fail the quality filter. Docs hold no stopwords and
#: no punctuation, so ``add_text_stats``' quality score is 0.3 + 0.4 *
#: min(1, words / 100), and a threshold of 0.555 keeps exactly the docs of
#: 64 words or more (``gopher_signals`` alone would keep 50 or more).
QUALITY_MIN_WORDS = 64
QUALITY_THRESHOLD = 0.555


def _vocab(rng: random.Random, n: int, exclude: set[str]) -> list[str]:
    """Pronounceable lowercase words of 3-8 letters (alphabetic, so every
    gopher rule but length holds by construction)."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        syl = rng.randint(2, 4)
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(syl))
        w = w[: rng.randint(3, 9)]
        if w not in exclude:
            words.add(w)
    return sorted(words)


EXACT_SHARE, NEAR_SHARE, DELETE_SHARE = 0.10, 0.08, 0.02


def corpus(seed: int, n_docs: int, stopwords: set[str]) -> dict:
    """A corpus with planted exact and near duplicates.

    Docs are 20-200 words of a vocabulary without ``stopwords`` (those
    under ``QUALITY_MIN_WORDS`` fail the quality filter). An exact
    duplicate copies an earlier doc's text with case and spacing changed
    (equal after normalization); a near duplicate replaces ~4% of an
    earlier doc's words. Each source doc is copied at most once. The first
    60% of docs are written under schema generation 1, the rest under
    generation 2; ``deleted`` ids go into one equality delete file.

    Returns the docs and the expected outputs of the curation pass."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 6000, stopwords)
    weights = [1.0 / (r + 10) for r in range(len(vocab))]
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_plain = n_docs - n_exact - n_near
    lengths = _stratified(rng, n_plain, 20, 200)
    rng.shuffle(lengths)
    docs = [rng.choices(vocab, weights, k=n) for n in lengths]
    texts = [" ".join(d) for d in docs]
    sources = rng.sample(range(n_plain), n_exact + n_near)
    near_pairs = []
    for j, src in enumerate(sources):
        words = list(docs[src])
        if j < n_exact:
            variant = "  ".join(words).upper() if j % 2 else " " + " ".join(words) + " "
            texts.append(variant)
        else:
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
            near_pairs.append((src, len(texts) - 1))
    ids = list(range(n_docs))
    deleted = set(rng.sample(ids, int(n_docs * DELETE_SHARE)))

    # expected outputs, by a plain-Python replay of the pass
    live = [i for i in ids if i not in deleted]
    kept = [i for i in live if len(texts[i].split()) >= QUALITY_MIN_WORDS]
    winner: dict[str, int] = {}
    for i in kept:  # ascending id: the first of a group survives
        winner.setdefault(" ".join(texts[i].lower().split()), i)
    survivors = set(winner.values())
    pairs = {(a, b) for a, b in near_pairs if a in survivors and b in survivors}
    distinct = {w for i in survivors for w in texts[i].lower().split()}
    return {
        "ids": ids,
        "texts": texts,
        "sources": [f"src{i % 7}" for i in ids],
        "scores": [len(texts[i]) % 1000 for i in ids],
        "gen2_from": int(n_docs * 0.6),
        "deleted": sorted(deleted),
        "expect": {
            "kept": len(kept),
            "survivors": len(survivors),
            "pairs": sorted(pairs),
            "distinct_tokens": len(distinct),
        },
    }
