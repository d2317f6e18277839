"""Independent expected-state reducer: pure Python over the log files.

Semantics are the engine's upsert-CDC contract (the ones
``cdc.testing.oracle`` states), re-stated here so the benchmark does not
import the program it checks:

- exact (batch_id, lsn) duplicate deliveries are dropped;
- events apply in (lsn, batch_id) order;
- 'I' and 'U' upsert (a 'U' on a dead key resurrects it), 'D' removes;
- the content digest is sha256 of the normalized content (CRLF and lone
  CR become LF; blanks and tabs before a line end and at the end of the
  string are stripped).
"""

from __future__ import annotations

import hashlib
import re

import pyarrow.parquet as pq

_TRAIL_NL = re.compile(r"[ \t]+\n")
_TRAIL_END = re.compile(r"[ \t]+$")


def normalize(s: str) -> str:
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    return _TRAIL_END.sub("", _TRAIL_NL.sub("\n", s))


def row_digest(repo: str, path: str, content_sha: str) -> int:
    """Per-row digest; ``spark_digest`` computes the same value in Spark."""
    h = hashlib.sha256(f"{repo}\x00{path}\x00{content_sha}".encode())
    return int(h.hexdigest()[:8], 16)


def spark_digest():
    """Column expression matching ``row_digest`` summed over a table read."""
    from pyspark.sql import functions as F

    h = F.sha2(F.concat_ws("\x00", "repo", "path", "_content_sha256"), 256)
    return F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"))


class State:
    """Live rows keyed by (repo, path): value = (lsn, content sha256)."""

    def __init__(self):
        self.rows: dict[tuple[str, str], tuple[int, str]] = {}

    def apply_files(self, paths: list[str]) -> None:
        """Fold the events of these log files, in (lsn, batch_id) order."""
        cols = ["lsn", "batch_id", "op", "repo", "path", "content"]
        events: dict[tuple[int, int], tuple] = {}
        for p in paths:
            t = pq.read_table(p, columns=cols).to_pydict()
            for e in zip(*(t[c] for c in cols)):
                events.setdefault((e[0], e[1]), e)
        for _lsn_b, (lsn, _b, op, repo, path, content) in sorted(
                events.items()):
            if op == "D":
                self.rows.pop((repo, path), None)
            else:
                sha = hashlib.sha256(normalize(content).encode()).hexdigest()
                self.rows[(repo, path)] = (lsn, sha)

    def count(self) -> int:
        return len(self.rows)

    def digest(self) -> int:
        return sum(row_digest(r, p, v[1]) for (r, p), v in self.rows.items())

    def expect(self, keys) -> set[tuple[str, str, str]]:
        """The (repo, path, sha) rows a lookup of ``keys`` must return."""
        return {(r, p, self.rows[(r, p)][1]) for r, p in keys
                if (r, p) in self.rows}

    def triples(self) -> set[tuple[str, str, str]]:
        return {(r, p, v[1]) for (r, p), v in self.rows.items()}
