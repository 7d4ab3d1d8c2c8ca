"""Deterministic entity universe + alias dictionary (FIXTURES.md §4).

200 canonical entities (entity_id = 1000+i), each with 2-5 aliases:
  - the exact name,
  - the name minus a determiner (when generated with one — our names carry
    none, so instead a 'the '-prefixed variant maps back via normalization),
  - one char-level typo variant (deterministic: swap adjacent chars at
    position i mod (len-1)) — reachable only through MinHash-LSH,
  - one abbreviation (first letters of words) for multi-word names.

Mentions in the golden corpus draw entities zipf(alpha=1.2) so the top
entity is a genuinely hot join key (exercises the materialize joins / AQE skew).
"""

from __future__ import annotations

import numpy as np

_FIRST = (
    "acme orion zenith nova quartz delta vertex apex cobalt ember falcon "
    "gamma harbor iris juniper krypton lumen meridian nimbus onyx pylon "
    "quill raven sable talon umber vortex willow xenon yonder zephyr aurora "
    "basalt cedar dune echo fjord glacier halo inlet jade"
).split()

_SECOND = (
    "corp labs systems group holdings works dynamics industries networks "
    "analytics logistics partners ventures foundry studio"
).split()

_SINGLE = (
    "aliceco bobtech carolsoft daveware evecloud frankdata gracemed heidiai "
    "ivanbio judychem"
).split()

COMMON_NOUNS = (
    "engineer company startup lab product device market city river mountain "
    "team platform network dataset model factory bridge garden museum library "
    "deal contract report paper engine tool"
).split()


def entity_names(n: int = 200) -> list[str]:
    """Deterministic multi-word-heavy entity name list, no RNG needed."""
    names: list[str] = []
    for f in _FIRST:
        for s in _SECOND:
            names.append(f"{f} {s}")
            if len(names) == n - len(_SINGLE):
                names.extend(_SINGLE)
                return names
    raise ValueError("name space exhausted")


def _typo(name: str, i: int) -> str:
    """Swap adjacent chars at deterministic position; stays LSH-reachable."""
    s = list(name.replace(" ", " "))
    # pick a position inside the first word, avoiding the space
    word = name.split(" ")[0]
    if len(word) < 3:
        return name[::-1]
    p = i % (len(word) - 2) + 1
    s[p], s[p + 1] = s[p + 1], s[p]
    return "".join(s)


def alias_rows(n: int = 200) -> list[dict]:
    """alias_dict rows: alias_norm, entity_id, entity_name (all normalized).

    Every 3rd entity (i % 3 == 2) deliberately LACKS its exact-name alias —
    corpus mentions of those entities are reachable only through the LSH
    path (typo variant at jaccard >= 0.5), so both link paths get genuine
    coverage in the golden fixtures."""
    rows: list[dict] = []
    for i, name in enumerate(entity_names(n)):
        eid = 1000 + i
        aliases = set()
        if i % 3 != 2:
            aliases.add(name)
        words = name.split()
        if len(words) > 1:
            aliases.add("".join(w[0] for w in words))  # abbreviation
        aliases.add(_typo(name, i))
        for a in sorted(aliases):
            rows.append({"alias_norm": a, "entity_id": eid, "entity_name": name})
    return rows


def zipf_probs(n: int = 200, alpha: float = 1.2) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks**-alpha
    return p / p.sum()


# pyarrow schema for the alias-dict fixture + its build-once materializer
# (lives here, not in tests/, so the driver contract and jobs never import
# test modules)
import pyarrow as _pa

ALIAS_PA = _pa.schema(
    [
        _pa.field("alias_norm", _pa.string(), nullable=False),
        _pa.field("entity_id", _pa.int64(), nullable=False),
        _pa.field("entity_name", _pa.string(), nullable=False),
    ]
)


def ensure_alias_dict() -> str:
    from openie_spark.fixtures import store

    return store.ensure(
        "alias_dict", lambda p: store.write_rows(alias_rows(), ALIAS_PA, p)
    )
