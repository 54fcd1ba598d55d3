"""Seeded input generator for the archive-lifecycle benchmark.

Everything the benchmark feeds the engine is written here from one seed,
together with the answers the outputs are checked against.  The engine
only ever sees the written files; the ground truth stays in Python.

Three kinds of input:

- ``ArchiveGen.write_dump``: a Reddit-shaped NDJSON dump (submissions +
  comments) with Zipf-skewed authors and thread sizes, deep reply chains,
  ~1 % phantom parents, ~5 % ``[deleted]`` authors and ~60 % null flairs.
- ``ArchiveGen.write_delta`` / ``write_resend``: small NDJSON delta files
  that mix new comments, real edits of stored comments and submissions
  (with ``edited`` stamps) and identical re-sends of stored rows, or
  hold re-sends only.
- ``corpus_rows``: document rows with a stop-word language mix, planted
  exact-copy groups, planted near-duplicate clusters and short or
  repetitive documents.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from dataclasses import dataclass, field

SUBREDDIT = "benchsub"
DELETED = "[deleted]"

# Filler vocabulary for bodies and titles; stop words come from the
# engine's own language-ID table shape (en/es/fr/de).
_WORDS = [
    "archive", "thread", "reply", "post", "river", "stone", "market",
    "signal", "garden", "engine", "window", "paper", "orbit", "candle",
    "harbor", "pixel", "forest", "ladder", "copper", "meadow", "rocket",
    "valley", "summit", "lantern", "marble", "breeze", "canyon", "falcon",
    "glacier", "island", "jungle", "kettle", "lemon", "mirror", "nickel",
    "oyster", "pepper", "quartz", "ribbon", "saddle", "tunnel", "umbrella",
    "velvet", "walnut", "yogurt", "zephyr", "anchor", "bamboo", "cactus",
    "dragon", "ember", "fossil", "granite", "hazel", "ivory", "jasper",
]
_STOP = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}


def b36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


def _sentence(rng: random.Random, n: int, lang: str = "en") -> str:
    stop = _STOP[lang]
    return " ".join(
        rng.choice(stop) if rng.random() < 0.35 else rng.choice(_WORDS)
        for _ in range(n)
    )


# --- archive -------------------------------------------------------------------

@dataclass
class ArchiveTruth:
    """Expected archive state, updated as dumps and deltas are written.

    ``subs`` / ``coms`` map idstr → the raw object as last sent (what the
    store must hold).  ``edits`` counts real edits per entity kind: one
    edit-log row each.  ``last_edit`` maps an edited idstr to its final
    text."""

    subs: dict = field(default_factory=dict)
    coms: dict = field(default_factory=dict)
    edits: dict = field(default_factory=lambda: {"submissions": 0,
                                                 "comments": 0})
    last_edit: dict = field(default_factory=dict)
    next_id: int = 0
    clock: int = 1_600_000_000

    def author_counts(self) -> dict[str, dict[str, int]]:
        out: dict[str, dict[str, int]] = {}
        for kind, rows in (("submissions", self.subs),
                           ("comments", self.coms)):
            for o in rows.values():
                c = out.setdefault(o["author"],
                                   {"submissions": 0, "comments": 0})
                c[kind] += 1
        return out


@dataclass
class Delta:
    path: str
    rows: int
    touched_threads: set
    real_edits: int
    resends: int


class ArchiveGen:
    """Writes a dump and deltas from one ``random.Random`` stream."""

    def __init__(self, seed: int, n_authors: int = 400):
        self.rng = random.Random(seed)
        self.truth = ArchiveTruth()
        self.authors = [f"user_{b36(i * 7919 + 11)}" for i in range(n_authors)]
        self._author_cum = _zipf_cum(n_authors, 1.1)

    def _author(self) -> str:
        if self.rng.random() < 0.05:
            return DELETED
        return self.rng.choices(self.authors, cum_weights=self._author_cum)[0]

    def _tick(self) -> int:
        self.truth.clock += self.rng.randint(1, 30)
        return self.truth.clock

    def _new_id(self) -> str:
        self.truth.next_id += 1
        return b36(1_000_000 + self.truth.next_id)

    def _submission(self) -> dict:
        i = self._new_id()
        flair = None if self.rng.random() < 0.6 else self.rng.choice(
            ["discussion", "news", "meta", "question"])
        return {
            "id": i, "name": "t3_" + i, "created_utc": self._tick(),
            "author": self._author(), "subreddit": SUBREDDIT,
            "title": _sentence(self.rng, self.rng.randint(3, 9)),
            "selftext": _sentence(self.rng, self.rng.randint(0, 40)),
            "score": self.rng.randint(-5, 500), "is_self": True,
            "over_18": False, "num_comments": 0, "url": None,
            "link_flair_text": flair,
            "link_flair_css_class": None if flair is None else "fl-" + flair,
            "edited": False,
        }

    def _comment(self, sub_id: str, parent: str) -> dict:
        i = self._new_id()
        return {
            "id": i, "name": "t1_" + i, "created_utc": self._tick(),
            "author": self._author(), "subreddit": SUBREDDIT,
            "body": _sentence(self.rng, self.rng.randint(3, 30)),
            "score": self.rng.randint(-5, 200),
            "parent_id": parent, "link_id": sub_id, "edited": False,
        }

    def write_dump(self, path: str, n_subs: int, n_comments: int) -> int:
        """Write the bulk dump; returns its row count."""
        rng = self.rng
        subs = [self._submission() for _ in range(n_subs)]
        thread_cum = _zipf_cum(n_subs, 0.9)
        rng.shuffle(subs)  # thread size independent of creation order
        threads: dict[str, list[str]] = {s["name"]: [] for s in subs}
        coms = []
        for _ in range(n_comments):
            sub = rng.choices(subs, cum_weights=thread_cum)[0]["name"]
            chain = threads[sub]
            r = rng.random()
            if r < 0.01:
                parent = "t1_" + b36(900_000 + rng.randint(0, 99_999))
            elif r < 0.30 or not chain:
                parent = sub
            elif r < 0.80:
                parent = chain[-1]  # extend the newest reply: deep chains
            else:
                parent = rng.choice(chain)
            c = self._comment(sub, parent)
            chain.append(c["name"])
            coms.append(c)
        rows = subs + coms
        for o in rows:
            (self.truth.subs if o["name"].startswith("t3_")
             else self.truth.coms)[o["name"]] = o
        _write_ndjson(path, rows)
        return len(rows)

    def write_delta(self, path: str, n_new: int, n_com_edits: int,
                    n_sub_edits: int, n_resends: int,
                    threads: list[str] | None = None) -> Delta:
        """One delta file.  Each id appears at most once per file, so the
        within-batch later-wins collapse never has to choose.  ``threads``
        restricts new comments and comment edits to those submissions."""
        rng = self.rng
        t = self.truth
        if threads is None:
            threads = sorted(t.subs)
        in_scope = set(threads)
        pool = [c for c in sorted(t.coms) if t.coms[c]["link_id"] in in_scope]
        kids: dict[str, list[str]] = {}
        for c in pool:
            kids.setdefault(t.coms[c]["link_id"], []).append(c)
        picked = rng.sample(pool, min(len(pool), n_com_edits + n_resends))
        com_edits, resend_ids = picked[:n_com_edits], picked[n_com_edits:]
        sub_edits = rng.sample(threads, min(len(threads), n_sub_edits))
        rows, touched = [], set()
        for _ in range(n_new):
            sub = rng.choice(threads)
            siblings = kids.get(sub)
            parent = (rng.choice(siblings) if siblings and rng.random() < 0.6
                      else sub)
            c = self._comment(sub, parent)
            t.coms[c["name"]] = c
            rows.append(c)
            touched.add(sub)
        for cid in com_edits:
            ts = self._tick()
            c = dict(t.coms[cid], body=_sentence(rng, rng.randint(4, 20))
                     + f" (edit {ts})", edited=str(ts), score=rng.randint(0, 99))
            t.coms[cid] = c
            t.last_edit[cid] = c["body"]
            t.edits["comments"] += 1
            rows.append(c)
            touched.add(c["link_id"])
        for sid in sub_edits:
            ts = self._tick()
            s = dict(t.subs[sid], selftext=_sentence(rng, rng.randint(4, 20))
                     + f" (edit {ts})", edited=str(ts))
            t.subs[sid] = s
            t.last_edit[sid] = s["selftext"]
            t.edits["submissions"] += 1
            rows.append(s)
            touched.add(sid)
        for cid in resend_ids:
            rows.append(t.coms[cid])  # identical to what is stored
        rng.shuffle(rows)
        _write_ndjson(path, rows)
        return Delta(path, len(rows), touched, len(com_edits) + len(sub_edits),
                     len(resend_ids))

    def write_resend(self, path: str, n: int) -> Delta:
        """A delta of identical re-sends only: it must change nothing."""
        ids = self.rng.sample(sorted(self.truth.coms), n)
        _write_ndjson(path, [self.truth.coms[i] for i in ids])
        return Delta(path, n, set(), 0, n)


def _write_ndjson(path: str, rows: list[dict]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for o in rows:
            f.write(json.dumps(o, separators=(",", ":")) + "\n")
    os.replace(tmp, path)


# --- document corpus -----------------------------------------------------------

@dataclass
class CorpusTruth:
    n_docs: int
    exact_groups: list          # lists of doc ids with identical text
    near_clusters: list         # lists of doc ids made by token mutation
    non_en: set                 # doc ids whose stop words are not English
    junk: set                   # short or repetitive doc ids


def corpus_rows(seed: int, n_docs: int) -> tuple[list[tuple], CorpusTruth]:
    """(doc_id, text) rows plus their ground truth.

    Half the documents use es/fr/de stop words, so the ``en`` language
    gate keeps about half.  ~8 % are short or repetitive (quality gate),
    ~6 % sit in exact-copy groups of 2-4, ~8 % in near-duplicate clusters
    of 3-5 made by mutating ~1 % of a base document's tokens.  That keeps
    every pair in a cluster above the 0.7 shingle-Jaccard threshold, so
    each cluster is one clique and the number of connected-components
    rounds does not depend on the seed."""
    rng = random.Random(seed * 7_777 + 1)
    rows: list[tuple] = []
    groups, clusters, non_en, junk = [], [], set(), set()

    def add(text: str) -> int:
        did = len(rows) + 1
        rows.append((did, text))
        return did

    while len(rows) < n_docs:
        r = rng.random()
        lang = "en" if rng.random() < 0.5 else rng.choice(["es", "fr", "de"])
        if r < 0.04:
            junk.add(add(_sentence(rng, rng.randint(1, 3))))
        elif r < 0.08:
            line = _sentence(rng, 8)
            junk.add(add("\n".join([line] * rng.randint(4, 8))))
        elif r < 0.10:
            text = _sentence(rng, rng.randint(60, 140), lang)
            ids = [add(text) for _ in range(rng.randint(2, 4))]
            groups.append(ids)
            if lang != "en":
                non_en.update(ids)
        elif r < 0.12:
            base = _sentence(rng, rng.randint(100, 160), lang).split()
            ids = []
            for _ in range(rng.randint(3, 5)):
                toks = list(base)
                for _ in range(max(1, len(toks) // 100)):
                    toks[rng.randrange(len(toks))] = rng.choice(_WORDS) + "x"
                ids.append(add(" ".join(toks)))
            clusters.append(ids)
            if lang != "en":
                non_en.update(ids)
        else:
            did = add(_sentence(rng, rng.randint(60, 140), lang))
            if lang != "en":
                non_en.add(did)
    del rows[n_docs:]
    keep = set(range(1, n_docs + 1))
    truth = CorpusTruth(
        n_docs=n_docs,
        exact_groups=[[i for i in g if i in keep] for g in groups],
        near_clusters=[[i for i in c if i in keep] for c in clusters],
        non_en=non_en & keep,
        junk=junk & keep,
    )
    return rows, truth
