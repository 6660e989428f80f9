"""Output checks.  Each returns a list of problems; empty means correct.

They compare plain Python values, so the benchmark's own tests can feed
them hand-made bad outputs without a Spark session.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from collections.abc import Iterable, Mapping


def check_commit(committed_urls: Iterable[str], expected_urls: Iterable[str],
                 manifest_row_counts: Iterable[int],
                 digests: Mapping[str, str | None],
                 expected_digests: Mapping[str, str | None]) -> list[str]:
    """A committed output table against its input.

    * the committed url multiset equals the expected url set, each once;
    * the manifest ``row_count`` sum equals the rows committed;
    * for each sampled url, the committed ``digest`` equals the digest the
      ``functions`` layer gives when called directly on its payload."""
    problems = []
    counts = Counter(committed_urls)
    expected = set(expected_urls)
    dup = sorted(u for u, c in counts.items() if c > 1)
    missing = sorted(expected - counts.keys())
    extra = sorted(counts.keys() - expected)
    if dup:
        problems.append(f"{len(dup)} urls committed more than once, e.g. {dup[0]}")
    if missing:
        problems.append(f"{len(missing)} input urls not committed, e.g. {missing[0]}")
    if extra:
        problems.append(f"{len(extra)} committed urls not in the input, e.g. {extra[0]}")
    committed = sum(counts.values())
    manifest = sum(manifest_row_counts)
    if manifest != committed:
        problems.append(f"manifest row_count sum {manifest} != {committed} rows committed")
    for url, want in expected_digests.items():
        if url not in digests:
            problems.append(f"sampled url {url} has no committed digest")
        elif digests[url] != want:
            problems.append(f"digest of {url} is {digests[url]}, direct call gives {want}")
    return problems


def check_replays(rows_added: int, new_urls: int) -> list[str]:
    """An increment adds exactly its new urls; replayed urls add zero rows."""
    if rows_added != new_urls:
        return [f"increment added {rows_added} rows for {new_urls} new urls"]
    return []


def _norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_fingerprint(columns: list[str], rows: Iterable[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result set.  Columns are
    taken in name order; each row hashes to 64 bits and the hashes are
    summed mod 2**64, so row order does not matter but multiplicity does."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n = 0
    acc = 0
    for r in rows:
        key = "\x1f".join(_norm(r[i]) for i in order)
        acc = (acc + int.from_bytes(
            hashlib.sha256(key.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
        n += 1
    return n, f"{sorted(columns)}:{acc:016x}"


def arrow_fingerprint(table) -> tuple[int, str]:
    return result_fingerprint(table.column_names,
                              (tuple(r.values()) for r in table.to_pylist()))


def check_pass(name: str, got: tuple[int, str], want: tuple[int, str]) -> list[str]:
    if got[0] != want[0]:
        return [f"{name}: {got[0]} rows, oracle has {want[0]}"]
    if got[1] != want[1]:
        return [f"{name}: result hash {got[1]} != oracle {want[1]}"]
    return []
