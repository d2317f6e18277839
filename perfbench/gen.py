"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

The benchmark owns its inputs: nothing here imports the engine, so a change
to the program cannot change what it is fed. Every value is a function of
the seed alone; the same seed writes byte-identical files.

Change-log layout (what ``cdc.io.log.read_log`` tails)::

    log/v=1/*.parquet   lsn, ts, op, repo, path, commit, lang, content,
                        schema_version, batch_id
    log/v=2/*.parquet   + size_bytes int32, score float32
    log/v=3/*.parquet   + size_bytes int64, score float64 (widened)

Each file is lsn-sorted and covers one contiguous lsn range. Events are
upserts ('I' for a key's first event, 'U' after), ~10% deletes ('D', NULL
content) and ~2% verbatim duplicate deliveries (same lsn and batch_id).
Some contents carry CRLF line ends or trailing blanks, so content
normalization has work to do.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("python", "java", "scala", "sql", "md", "toml")
EXTS = ("py", "java", "scala", "sql", "md", "toml")
N_REPOS = 50
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds
DELETE_RATE = 0.10
DUP_RATE = 0.02
BATCH_EVENTS = 1_000     # tail batch size; replay producer batch_id width
HOT_KEYS = 200           # tail batches send 20% of their events here
EVENTS_PER_KEY = 10      # replay log: mean events per key
EVENTS_PER_FILE = 10_000  # replay log: events per parquet file

_SCHEMA_V1 = [
    ("lsn", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("op", pa.string()), ("repo", pa.string()), ("path", pa.string()),
    ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
    ("schema_version", pa.int32()), ("batch_id", pa.int64()),
]
SCHEMAS = {
    1: pa.schema(_SCHEMA_V1),
    2: pa.schema(_SCHEMA_V1 + [("size_bytes", pa.int32()), ("score", pa.float32())]),
    3: pa.schema(_SCHEMA_V1 + [("size_bytes", pa.int64()), ("score", pa.float64())]),
}


@dataclass
class Events:
    """Column lists of one slice of the change log, in lsn order."""

    lsn: list = field(default_factory=list)
    op: list = field(default_factory=list)
    key: list = field(default_factory=list)
    version: list = field(default_factory=list)
    batch_id: list = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.lsn)


@dataclass
class LogSlice:
    """One log file: its events, schema version and lsn range."""

    path: str
    schema_version: int
    events: Events
    lsn_lo: int
    lsn_hi: int

    @property
    def n_bytes(self) -> int:
        return os.path.getsize(self.path)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class Corpus:
    """Key names and per-(key, version) payloads derived from the seed."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0])
        # 4096 random 48-hex-char line bodies; contents are drawn from them
        raw = rng.integers(0, 2**63, size=(4096, 3), dtype=np.int64)
        self.lines = ["".join(f"{int(v):016x}" for v in row) for row in raw]
        self._salt = np.uint64(int(rng.integers(0, 2**62)))
        self._keys: list[tuple[str, str, str]] = []   # (repo, path, lang)

    def h(self, key: np.ndarray, version: np.ndarray | int, tag: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            x = (key.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
                 + np.asarray(version).astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)
                 + np.uint64(tag) * np.uint64(0x165667B19E3779F9) + self._salt)
            return _mix(x)

    def key_attrs(self, keys: list[int]) -> list[tuple[str, str, str]]:
        """(repo, path, lang) per key; repos 0-4 own ~60% of keys."""
        need = max(keys) + 1
        if need > len(self._keys):
            ks = np.arange(len(self._keys), need, dtype=np.uint64)
            hr = (self.h(ks, 0, 1) % np.uint64(1000)).tolist()
            hp = (self.h(ks, 0, 2) % np.uint64(97 * 6)).tolist()
            for k, r, p in zip(ks.tolist(), hr, hp):
                repo = r % 5 if r % 10 < 6 else 5 + r % (N_REPOS - 5)
                self._keys.append((f"repo_{repo:04d}",
                                   f"src/d{p // 6:02d}/f_{k}.{EXTS[p % 6]}",
                                   LANGS[p % 6]))
        return [self._keys[k] for k in keys]

    def payload(self, keys: list[int], versions: list[int]):
        """(commit, content) per event. A content is a header line plus 1-6
        pool lines; 1 in 20 uses CRLF ends, 1 in 20 trailing blanks."""
        k = np.asarray(keys, dtype=np.uint64)
        v = np.asarray(versions, dtype=np.uint64)
        commits = [f"{x:016x}" for x in self.h(k, v, 3).tolist()]
        contents = []
        lines = self.lines
        for key, ver, h in zip(keys, versions, self.h(k, v, 5).tolist()):
            body = [f"# f_{key} v{ver}"]
            body += [lines[(h >> (12 * i)) & 4095] for i in range(1 + h % 6)]
            style = (h >> 56) % 20
            if style == 0:    # CRLF line ends
                contents.append("\r\n".join(body))
            elif style == 1:  # trailing blanks
                contents.append("  \n".join(body) + " \t")
            else:
                contents.append("\n".join(body))
        return commits, contents

    def scores(self, lsns: list[int]) -> list[float]:
        h = self.h(np.asarray(lsns, dtype=np.uint64), 0, 6) % np.uint64(100_000)
        return (h.astype(np.float64) / 1000.0).tolist()


def _table(corpus: Corpus, ev: Events, schema_version: int) -> pa.Table:
    attrs = corpus.key_attrs(ev.key)
    commits, content = corpus.payload(ev.key, ev.version)
    content = [None if o == "D" else c for c, o in zip(content, ev.op)]
    cols = {
        "lsn": ev.lsn,
        "ts": [T0_US + lsn * 100_000 for lsn in ev.lsn],
        "op": ev.op,
        "repo": [a[0] for a in attrs],
        "path": [a[1] for a in attrs],
        "commit": commits,
        "lang": [a[2] for a in attrs],
        "content": content,
        "schema_version": [schema_version] * len(ev),
        "batch_id": ev.batch_id,
    }
    if schema_version >= 2:
        cols["size_bytes"] = [0 if c is None else len(c) for c in content]
        cols["score"] = corpus.scores(ev.lsn)
    return pa.table(cols, schema=SCHEMAS[schema_version])


def _write(corpus: Corpus, log_dir: str, ev: Events, schema_version: int,
           name: str) -> LogSlice:
    vdir = os.path.join(log_dir, f"v={schema_version}")
    os.makedirs(vdir, exist_ok=True)
    path = os.path.join(vdir, f"{name}.parquet")
    pq.write_table(_table(corpus, ev, schema_version), path,
                   compression="snappy")
    return LogSlice(path, schema_version, ev, ev.lsn[0], ev.lsn[-1])


class _Stream:
    """Hands out lsns (with ~3% gaps) and per-key version counters."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.next_lsn = 0
        self.versions: dict[int, int] = {}
        self.live: set[int] = set()

    def events(self, keys: np.ndarray, batch_ids: np.ndarray,
               delete_rate: float = DELETE_RATE) -> Events:
        ev = Events()
        gaps = self.rng.random(len(keys)) < 0.03
        dels = self.rng.random(len(keys)) < delete_rate
        dups = self.rng.random(len(keys)) < DUP_RATE
        for k, b, gap, dele, dup in zip(keys.tolist(), batch_ids.tolist(),
                                        gaps.tolist(), dels.tolist(),
                                        dups.tolist()):
            self.next_lsn += 2 if gap else 1
            v = self.versions.get(k, -1) + 1
            self.versions[k] = v
            if v == 0:
                op = "I"
            elif dele and k in self.live:
                op = "D"
            else:
                op = "U"
            if op == "D":
                self.live.discard(k)
            else:
                self.live.add(k)
            for _ in range(2 if dup else 1):
                ev.lsn.append(self.next_lsn)
                ev.op.append(op)
                ev.key.append(k)
                ev.version.append(v)
                ev.batch_id.append(b)
        return ev


@dataclass
class TailLog:
    """A standing table's base load plus a fixed sequence of small batches."""

    base: LogSlice
    batches: list[LogSlice]


def tail_log(seed: int, log_dir: str, n_keys: int,
             n_batches: int = 80) -> TailLog:
    """Base load of ``n_keys`` inserts (v=1) and ``n_batches`` batches of
    ~BATCH_EVENTS events each, alternating v=2 and v=3 files.

    A batch is mostly updates of standing keys: 20% of its events hit a
    hot set of HOT_KEYS keys (so keys repeat inside a batch and the
    last-writer-wins collapse has work), ~5% insert new keys and ~10% are
    deletes."""
    rng = np.random.default_rng([seed, 1])
    corpus = Corpus(seed)
    st = _Stream(rng)
    base_keys = rng.permutation(n_keys)
    base = _write(corpus, log_dir,
                  st.events(base_keys, np.zeros(n_keys, dtype=np.int64),
                            delete_rate=0.0), 1, "base")
    batches = []
    next_new = n_keys
    for b in range(1, n_batches + 1):
        n = BATCH_EVENTS
        pick = rng.random(n)
        keys = np.where(pick < 0.2, rng.integers(0, HOT_KEYS, n),
                        rng.integers(0, n_keys, n))
        new = pick > 0.95
        keys[new] = np.arange(next_new, next_new + int(new.sum()))
        next_new += int(new.sum())
        ev = st.events(keys, np.full(n, b, dtype=np.int64))
        batches.append(_write(corpus, log_dir, ev, 2 + b % 2, f"b{b:05d}"))
    return TailLog(base, batches)


def replay_log(seed: int, log_dir: str, n_keys: int) -> list[LogSlice]:
    """One log of ~``n_keys * EVENTS_PER_KEY`` events (1 to
    ``2*EVENTS_PER_KEY - 1`` per key, interleaved), split 40/30/30 over
    schema versions 1/2/3 along the lsn axis."""
    rng = np.random.default_rng([seed, 2])
    corpus = Corpus(seed)
    st = _Stream(rng)
    per_key = rng.integers(1, 2 * EVENTS_PER_KEY, n_keys)
    keys = rng.permutation(np.repeat(np.arange(n_keys), per_key))
    n = len(keys)
    ev = st.events(keys, np.arange(n, dtype=np.int64) // BATCH_EVENTS)
    m = len(ev)

    def cut(i: int) -> int:
        # never split a duplicate delivery pair across files
        while 0 < i < m and ev.lsn[i] == ev.lsn[i - 1]:
            i += 1
        return i

    bounds = [0, cut(int(0.4 * m)), cut(int(0.7 * m)), m]
    slices = []
    for v in (1, 2, 3):
        s, hi, i = bounds[v - 1], bounds[v], 0
        while s < hi:
            e = min(hi, cut(s + EVENTS_PER_FILE))
            part = Events(ev.lsn[s:e], ev.op[s:e], ev.key[s:e],
                          ev.version[s:e], ev.batch_id[s:e])
            slices.append(_write(corpus, log_dir, part, v, f"part-{i:04d}"))
            s, i = e, i + 1
    return slices


def _selftest(seed: int = 7) -> None:
    """Same seed -> byte-identical files; another seed -> different ones."""
    import filecmp
    import tempfile

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        trees = []
        for tag, s in (("a", seed), ("b", seed), ("c", seed + 1)):
            d = os.path.join(tmp, tag)
            tail_log(s, os.path.join(d, "tail"), n_keys=2_000, n_batches=6)
            replay_log(s, os.path.join(d, "replay"), n_keys=2_000)
            trees.append(d)
        files = sorted(os.path.relpath(os.path.join(r, f), trees[0])
                       for r, _, fs in os.walk(trees[0]) for f in fs)
        same = [filecmp.cmp(os.path.join(trees[0], f),
                            os.path.join(trees[1], f), shallow=False)
                for f in files]
        if not all(same):
            raise SystemExit("FAIL: same seed wrote different bytes")
        diff = [not filecmp.cmp(os.path.join(trees[0], f),
                                os.path.join(trees[2], f), shallow=False)
                for f in files if os.path.exists(os.path.join(trees[2], f))]
        if not any(diff):
            raise SystemExit("FAIL: another seed wrote the same bytes")
        print(f"ok: {len(files)} files byte-identical for seed {seed}; "
              f"seed {seed + 1} differs")


if __name__ == "__main__":
    _selftest()
