#!/usr/bin/env python
"""Regenerate docs/REGISTRY.md: one row per registered query key —
implementation site, oracle status, and the docstring's first
sentence. Run after adding/changing keys."""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kawa_spark import registry


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — the", ": "):
        i = text.find(stop)
        if 0 < i < 160:
            return text[: i + (1 if stop == ". " else 0)]
    return text[:160]


def main() -> None:
    registry.load_all()
    lines = [
        "# Registry reference (generated)",
        "",
        f"{len(registry.QUERIES)} keys, {len(registry.ORACLES)} with DuckDB "
        "oracles. Regenerate with `python scripts/gen_registry_doc.py`.",
        "",
        "| key | where | synopsis |",
        "|---|---|---|",
    ]
    for key, fn in registry.QUERIES.items():
        src = inspect.getsourcefile(fn) or "?"
        rel = os.path.relpath(src, ROOT)
        line = inspect.getsourcelines(fn)[1]
        syn = first_sentence(fn.__doc__).replace("|", "\\|")
        lines.append(f"| `{key}` | {rel}:{line} | {syn} |")
    out = os.path.join(ROOT, "docs", "REGISTRY.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(registry.QUERIES)} keys")


if __name__ == "__main__":
    main()
