"""Resolve registry keys by base name.

The registry files a key under a rotation prefix (``z_``, ``zz_`` or
``zzz_``) that moves between releases, so the benchmark never spells a
prefixed key: it names the base key and looks up whichever spelling the
registry holds today.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

_ROTATION_PREFIX = re.compile(r"^z{1,3}_")


def base_name(key: str) -> str:
    """The key without its rotation prefix."""
    return _ROTATION_PREFIX.sub("", key, count=1)


def resolve(base: str, keys: Iterable[str]) -> str:
    """The one registered key whose base name is ``base``.

    Matching is exact on the base name, so ``dedup_components`` never
    matches ``dedup_components_star``. Raises ``KeyError`` when no key or
    more than one key has that base name."""
    found = sorted(k for k in keys if base_name(k) == base)
    if not found:
        raise KeyError(f"no registry key has base name {base!r}")
    if len(found) > 1:
        raise KeyError(f"base name {base!r} is ambiguous: {found}")
    return found[0]
