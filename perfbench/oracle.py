"""An independent replay of the ingest workload's curation, for its output checks.

`CurationStream.processBatch` curates one wave of documents against the
store the earlier waves grew and returns its funnel. This module replays
the same waves over the same documents in plain Python, with the semantics
the repository's q182 oracle pins down: language by first-winning marker
count, quality >= 0.5, batch-internal exact dedup keeping the least id,
drops of texts and near-duplicates already in the store, then
batch-internal near-duplicates (the larger id of each pair goes).
Near-duplicates are found by exhaustive exact Jaccard over 3-word
shingles, where the program uses MinHash candidates.
"""
from decimal import Decimal, ROUND_HALF_UP

import pyarrow.parquet as pq

STOPWORDS = frozenset(["the", "a", "and", "of", "in", "to", "is"])
MIN_QUALITY = 0.5
JACCARD = 0.5
SHINGLE = 3
STAGES = ("arrived", "lang", "quality", "exact_dedup", "near_dup", "store_total")


def round6(x):
    """Spark's `round(x, 6)` on a double: half up on its shortest decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def language(toks, profiles):
    """The first profile whose marker count is the greatest."""
    scores = [(lang, sum(1 for t in toks if t in markers)) for lang, markers in profiles]
    best = max(s for _, s in scores)
    return next(lang for lang, s in scores if s == best)


def quality(text, toks):
    stop = round6(sum(1 for t in toks if t in STOPWORDS) / len(toks))
    return round6((min(len(text) / 500.0, 1.0) + min(stop * 5.0, 1.0)
                   + len(set(toks)) / len(toks)) / 3.0)


def shingles(toks):
    return frozenset(" ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1))


def near(a, b):
    common = len(a & b)
    return common > 0 and round6(common / (len(a) + len(b) - common)) >= JACCARD


class Store:
    """The curated documents so far, with a shingle index for candidates."""

    def __init__(self):
        self.ids, self.texts, self.sh, self.index = set(), set(), {}, {}

    def candidates(self, sh):
        return {j for s in sh for j in self.index.get(s, ())}

    def add(self, i, text, sh):
        self.ids.add(i)
        self.texts.add(text)
        self.sh[i] = sh
        for s in sh:
            self.index.setdefault(s, set()).add(i)


def replay(texts, waves, profiles):
    """The funnel of each wave, curated in order, and the final store ids.

    `texts` maps doc id to text, `waves` lists each wave's doc ids, and
    `profiles` is `[(lang, markers)]` with the curated language first.
    """
    profiles = [(lang, frozenset(ms)) for lang, ms in profiles]
    target = profiles[0][0]
    store = Store()
    funnels = []
    for ids in waves:
        arrived = sorted(set(ids) - store.ids)
        toks = {i: texts[i].split(" ") for i in arrived}
        lang = [i for i in arrived if language(toks[i], profiles) == target]
        good = [i for i in lang if quality(texts[i], toks[i]) >= MIN_QUALITY]
        first = {}
        for i in good:
            first.setdefault(texts[i], i)
        exact = [i for i in good if first[texts[i]] == i and texts[i] not in store.texts]
        sh = {i: shingles(toks[i]) for i in exact}
        fresh = [i for i in exact
                 if not any(near(sh[i], store.sh[j]) for j in store.candidates(sh[i]))]
        batch = Store()
        for i in fresh:
            batch.add(i, texts[i], sh[i])
        dropped = {b for b in fresh for a in batch.candidates(sh[b])
                   if a < b and near(sh[a], sh[b])}
        kept = [i for i in fresh if i not in dropped]
        for i in kept:
            store.add(i, texts[i], sh[i])
        funnels.append(dict(zip(STAGES, (len(arrived), len(lang), len(good), len(exact),
                                         len(kept), len(store.ids)))))
    return funnels, sorted(store.ids)


def ingest_checks(observed, documents):
    """Checks of an ingest run's recorded waves and store against the
    replay: each wave's funnel, and the store's documents."""
    table = pq.read_table(documents, columns=["doc_id", "text"]).to_pydict()
    texts = dict(zip(table["doc_id"], table["text"]))
    profiles = list(observed["profiles"].items())
    waves = observed["waves"]
    funnels, store_ids = replay(texts, [w["ids"] for w in waves], profiles)
    checks = []
    for w, want in zip(waves, funnels):
        got = w["funnel"]
        checks.append({"name": f"wave {w['wave']} funnel", "ok": got == want,
                       "detail": "" if got == want else f"got {got}, replay {want}"})
    got = observed["store_ids"]
    ok = got == store_ids and len(store_ids) > 0
    checks.append({"name": "store documents", "ok": ok,
                   "detail": "" if ok else f"{len(got or [])} stored, replay keeps "
                                           f"{len(store_ids)}"})
    return checks
