"""Seeded input generators for the two workloads.

Every input the library sees (lake files, path-index rows, blob events,
text corpus, query terms and every schedule) is derived here from the
``--seed`` argument alone: each stream draws from its own
``random.Random(f"{seed}:{stream}")`` so adding draws to one stream never
shifts another.  Generators return plain Python records; the workload
modules write them out.  ``digest`` hashes a record stream so a run can
check that generating twice from one seed gives byte-identical inputs.
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import itertools
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

FILESYSTEM = "stuff-large"
ACCOUNT_URL = "https://acct.dfs.core.windows.net"
N_PARTITIONS = 5
N_CUSTOMERS = 40
#: share of the lake one tick rewrites, and the share of those that are new files
TICK_DELTA = 0.01
TICK_NEW = 0.2
#: 1 payload in this many is malformed JSON, like sources.fixtures.build_document_lake
MALFORMED_EVERY = 37
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


def digest(records) -> str:
    """sha256 over the repr of a record stream — equal digests mean the
    generator produced byte-identical inputs."""
    h = hashlib.sha256()
    for r in records:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def url_encode(path: str) -> str:
    """The lake's URL encoding (functions.keys.url_encode_path)."""
    return path.replace("/", "%2f")


def path_key(filesystem: str, path: str) -> str:
    """The path-index surrogate key (functions.keys.path_key)."""
    raw = f"{filesystem}%2f{url_encode(path)}".encode()
    return base64.b64encode(raw).decode()


def ts(seconds: float) -> datetime:
    return EPOCH + timedelta(seconds=seconds)


# --------------------------------------------------------------------------
# words

_SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]


def vocabulary(seed: int, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words, 2-4 syllables each."""
    r = rng(seed, "vocab")
    out, seen = [], set()
    while len(out) < n:
        w = "".join(r.choice(_SYLLABLES) for _ in range(r.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Zipf:
    """Draws vocabulary ranks with probability ∝ 1 / rank**s."""

    def __init__(self, n: int, s: float = 1.1):
        self.cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))

    def draw(self, r: random.Random) -> int:
        return bisect.bisect_left(self.cum, r.random() * self.cum[-1])


# --------------------------------------------------------------------------
# index_cycle: JSON lake + path index + tick schedule


@dataclass
class LakeFile:
    path: str
    payload: str
    #: parsed values, or None when the payload is malformed
    values: tuple | None
    file_lm: float


@dataclass
class Lake:
    """The generator's model of the lake and of the expected data index."""

    seed: int
    files: dict[str, LakeFile] = field(default_factory=dict)
    next_doc: int = 0
    next_event: int = 0


def _payload(r: random.Random, words: list[str]) -> tuple[str, tuple | None]:
    if r.randrange(MALFORMED_EVERY) == 0:
        return '{"stringvalue": "truncated', None
    text = " ".join(r.choice(words) for _ in range(r.randint(4, 12)))
    values = (text, r.randrange(1_000_000), r.random() < 0.5)
    body = json.dumps(
        {"stringvalue": values[0], "numbervalue": values[1], "booleanvalue": values[2]}
    )
    return body, values


def _lake_path(doc: int, customer: int) -> str:
    return f"partition_{doc % N_PARTITIONS}/customer_{customer}/document_{doc}.json"


def build_lake(seed: int, n_files: int) -> Lake:
    r = rng(seed, "lake")
    words = vocabulary(seed, 400)
    lake = Lake(seed)
    for doc in range(n_files):
        path = _lake_path(doc, r.randrange(N_CUSTOMERS))
        payload, values = _payload(r, words)
        lm = -86_400.0 + r.random() * 3600
        lake.files[path] = LakeFile(path, payload, values, lm)
    lake.next_doc = n_files
    return lake


@dataclass
class Tick:
    index: int
    prefix: str
    #: logical time the scheduler fires at (the next watermark of ``prefix``)
    at: float
    #: path -> new LakeFile for every file the generator rewrote or created
    changes: dict[str, LakeFile]


def make_tick(lake: Lake, t: int) -> Tick:
    """Tick ``t``'s changes: about TICK_DELTA of the lake, all under the
    tick's prefix, TICK_NEW of them new files.  Deterministic in
    (seed, t, lake state)."""
    r = rng(lake.seed, f"tick:{t}")
    words = vocabulary(lake.seed, 400)
    p = t % N_PARTITIONS
    prefix = f"partition_{p}/"
    at = 600.0 * (t + 1)
    changes: dict[str, LakeFile] = {}
    n = max(1, round(TICK_DELTA * len(lake.files)))
    n_new = round(n * TICK_NEW)
    existing = sorted(x for x in lake.files if x.startswith(prefix))
    for path in r.sample(existing, n - n_new):
        payload, values = _payload(r, words)
        changes[path] = LakeFile(path, payload, values, at - r.random() * 300)
    for _ in range(n_new):
        doc = lake.next_doc + (p - lake.next_doc) % N_PARTITIONS
        lake.next_doc = doc + 1
        path = _lake_path(doc, r.randrange(N_CUSTOMERS))
        payload, values = _payload(r, words)
        changes[path] = LakeFile(path, payload, values, at - r.random() * 300)
    return Tick(t, prefix, at, changes)


# --------------------------------------------------------------------------
# blob events that keep the path index current


EVENT_CREATED = "Microsoft.Storage.BlobCreated"
EVENT_DELETED = "Microsoft.Storage.BlobDeleted"


def blob_url(path: str) -> str:
    return f"{ACCOUNT_URL}/{FILESYSTEM}/{path}"


def tick_events(lake: Lake, tick: Tick) -> list[tuple]:
    """The blob events ``(event_id, eventType, eventTime, url)`` a tick's
    writes raise: one BlobCreated per changed file stamped with its
    ``file_lm``, plus about 10% same-path collisions (an older write of a
    path in the batch under a new event id), 3% redelivered exact
    duplicates, and 10% BlobDeleted for other lake paths."""
    r = rng(lake.seed, f"events:{tick.index}")
    rows: list[tuple] = []
    for f in tick.changes.values():
        rows.append((lake.next_event, EVENT_CREATED, ts(f.file_lm), blob_url(f.path)))
        lake.next_event += 1
    n = len(rows)
    for _ in range(round(0.10 * n)):
        _, _, when, url = r.choice(rows[:n])
        rows.append((lake.next_event, EVENT_CREATED, when - timedelta(seconds=1 + r.random() * 60), url))
        lake.next_event += 1
    for _ in range(round(0.03 * n)):
        rows.append(r.choice(rows))
    others = sorted(lake.files)
    for _ in range(round(0.10 * n)):
        rows.append((lake.next_event, EVENT_DELETED, ts(tick.at - r.random() * 300),
                     blob_url(r.choice(others))))
        lake.next_event += 1
    r.shuffle(rows)
    return rows


# --------------------------------------------------------------------------
# search_under_ingest: Zipf corpus, rounds, queries


@dataclass
class Round:
    upserts: list[tuple[int, str]]
    deletes: list[int]
    queries: list[list[str]]


class Corpus:
    """A Zipf corpus and the seeded schedule of rounds mutating it."""

    #: vocabulary size and mean document length in tokens
    VOCAB = 5000
    DOC_LEN = 40

    def __init__(self, seed: int, n_docs: int):
        self.seed = seed
        self.words = vocabulary(seed, self.VOCAB)
        self.zipf = Zipf(self.VOCAB)
        r = rng(seed, "corpus")
        self.docs: dict[int, str] = {i: self._text(r) for i in range(n_docs)}
        self.next_id = n_docs

    def _text(self, r: random.Random) -> str:
        n = r.randint(self.DOC_LEN - 10, self.DOC_LEN + 10)
        return " ".join(self.words[self.zipf.draw(r)] for _ in range(n))

    def make_round(self, i: int, n_queries: int) -> Round:
        """Round ``i``: ~1% upserted (⅔ modified, ⅓ new), ~0.2% deleted,
        ``n_queries`` queries of 1-3 terms, alternately head and tail words.
        Applies the round to the model."""
        r = rng(self.seed, f"round:{i}")
        n = len(self.docs)
        n_up = max(3, n // 100)
        live = sorted(self.docs)
        mod = r.sample(live, n_up - n_up // 3)
        ups = [(d, self._text(r)) for d in mod]
        for _ in range(n_up // 3):
            ups.append((self.next_id, self._text(r)))
            self.next_id += 1
        for d, text in ups:
            self.docs[d] = text
        untouched = sorted(set(self.docs) - {d for d, _ in ups})
        dels = r.sample(untouched, max(1, n // 500))
        for d in dels:
            del self.docs[d]
        # the run's q-th query has 1 + q % 3 terms, head words (top-50
        # ranks) when q is even and tail words (ranks 50-1000) when odd:
        # every 6 queries hold the same mix.  Rarer words are left out:
        # about 1 in 4 of them is in no document, and a query whose terms
        # match nothing costs half as much, so which seeds drew one would
        # move the median query time
        queries = []
        for q in range(i * n_queries, (i + 1) * n_queries):
            lo, hi = (0, 50) if q % 2 == 0 else (50, 1000)
            queries.append([self.words[r.randrange(lo, hi)] for _ in range(1 + q % 3)])
        return Round(ups, dels, queries)
