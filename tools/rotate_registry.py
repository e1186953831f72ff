"""Head-50 rotation audit for the __spark_entry__ registry (VERDICT r03 #7).

The driver's correctness gate hashes the FIRST 50 ``queries()`` entries, so
per-round rotations reorder ``__spark_entry__.ORDER`` to earn driver-green
rows for new queries. A rotation must change ORDER only — never the
query/oracle CONTENT. This tool makes that reviewable by separating the two pins
``tests/test_registry_pin.py`` asserts:

- **content sha** — sha256 over (key, oracle_sql) sorted BY KEY: invariant
  under any rotation; changes only when a query/oracle is added, removed,
  or edited.
- **order sha** — sha256 over (key, oracle_sql) in ORDER: the driver
  gate contract; changes on every rotation.

Usage:
    python tools/rotate_registry.py              # print both pins + head
    python tools/rotate_registry.py name [...]   # also assert those keys
                                                 # are inside the head-50

A rotation commit should show: order sha + PINNED_HEAD updated, content
sha UNCHANGED. A content-sha change inside a "rotation" commit means an
oracle was edited under the same diff — split it.
"""

from __future__ import annotations

import hashlib
import sys

sys.path.insert(0, ".")

import __spark_entry__ as em  # noqa: E402

HEAD_N = 50


def content_sha() -> str:
    osql = em.oracle_sql()
    h = hashlib.sha256()
    for k in sorted(em.queries()):
        h.update(k.encode())
        h.update(osql.get(k, "").encode())
    return h.hexdigest()


def order_sha() -> str:
    osql = em.oracle_sql()
    h = hashlib.sha256()
    for k in em.queries():
        h.update(k.encode())
        h.update(osql[k].encode())
    return h.hexdigest()


def main() -> None:
    keys = list(em.queries())
    head = keys[:HEAD_N]
    for name in sys.argv[1:]:
        assert name in keys, f"unknown query {name!r}"
        assert name in head, f"{name!r} is NOT in the driver-gated head-50"
    print(f"n={len(keys)}  head={HEAD_N}")
    print(f"content_sha={content_sha()}")
    print(f"order_sha={order_sha()}")
    print("head:", ", ".join(head))
    print("tail:", ", ".join(keys[HEAD_N:]))


if __name__ == "__main__":
    main()
