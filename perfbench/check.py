"""Output checks.

Two kinds, applied to every checked document:

* the differential: the system's row for a document must carry the same
  status, error and markdown as an in-process ``extract_row`` call on
  the same document (markdown compared by digest);
* the oracle: facts about the expected markdown that the generator knows
  from how it built the page (``inputs.py``), independent of any
  transform code.

Run ``python3 perfbench/check.py`` for the self-test; every benchmark run
also runs it before measuring.
"""

from __future__ import annotations

import hashlib


def digest(md: str) -> str:
    return hashlib.blake2b(md.encode(), digest_size=16).hexdigest()


def oracle_failure(oracle: dict, status: str, error: str, md: str) -> str | None:
    """Why (status, error, md) contradicts the generator's oracle, or None."""
    if status != oracle["status"]:
        return f"status {status!r} ({error}), expected {oracle['status']!r}"
    if "error" in oracle and error != oracle["error"]:
        return f"error {error!r}, expected {oracle['error']!r}"
    if "equals" in oracle and md != oracle["equals"]:
        return "markdown differs from the constructed expectation"
    pos = 0
    for piece in oracle.get("contains", ()):
        at = md.find(piece, pos)
        if at < 0:
            return f"markdown lacks {piece!r} (in order)"
        pos = at + len(piece)
    return None


def compare(expected: dict, got_rows) -> list[tuple[str, str]]:
    """Differential check.

    ``expected`` maps doc_id -> (status, error, md_digest), where a
    digest of None leaves that document's markdown unchecked; ``got_rows``
    is an iterable of (doc_id, status, error, md_digest).  Returns one
    (doc_id, reason) per bad row: a differing, duplicated, unexpected or
    missing row.
    """
    failures = []
    seen = set()
    for doc_id, status, error, md_digest in got_rows:
        if doc_id in seen:
            failures.append((doc_id, "duplicate row"))
            continue
        seen.add(doc_id)
        want = expected.get(doc_id)
        if want is None:
            failures.append((doc_id, "unexpected row"))
        elif (status, error) != want[:2]:
            failures.append((doc_id, f"status/error {(status, error)} != {want[:2]}"))
        elif want[2] is not None and md_digest != want[2]:
            failures.append((doc_id, "markdown differs"))
    failures.extend((d, "missing row") for d in expected if d not in seen)
    return failures


def selftest() -> None:
    """The checker must flag a one-byte markdown change and a dropped row."""
    mds = {"a": "# one\n\ntext", "b": "## two", "c": ""}
    expected = {k: ("ok", "", digest(v)) for k, v in mds.items()}
    good = [(k, "ok", "", digest(v)) for k, v in mds.items()]
    if compare(expected, good):
        raise AssertionError("checker flags identical rows")
    flipped = [
        (k, s, e, digest(mds[k][:-1] + "T") if k == "a" else d)
        for k, s, e, d in good
    ]
    if compare(expected, flipped) != [("a", "markdown differs")]:
        raise AssertionError("checker misses a one-byte markdown change")
    if compare(expected, good[1:]) != [("a", "missing row")]:
        raise AssertionError("checker misses a dropped row")
    if len(compare(expected, good + good[:1])) != 1:
        raise AssertionError("checker misses a duplicated row")
    oracle = {"status": "ok", "contains": ["# one", "text"]}
    if oracle_failure(oracle, "ok", "", mds["a"]) is not None:
        raise AssertionError("oracle rejects a matching document")
    if oracle_failure(oracle, "ok", "", "# one\n\ntexT") is None:
        raise AssertionError("oracle misses a one-byte markdown change")


if __name__ == "__main__":
    selftest()
    print("checker self-test passed")
