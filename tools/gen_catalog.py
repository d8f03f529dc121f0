"""Generate CATALOG.md — the full registry reference.

One line per registered query (name, pack, oracle kind, first docstring
sentence), grouped by pack module. Regenerate after adding entries:
    python tools/gen_catalog.py > CATALOG.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".) ", "; "):
        i = text.find(stop)
        if 0 < i < 300:
            return text[: i + 1]
    return text[:200]


def main() -> None:
    import __spark_entry__ as entrymod

    regs = entrymod._registries()
    by_pack: dict[str, list[tuple[str, bool, str]]] = {}
    for name, (fn, sql) in regs.items():
        pack = fn.__module__.rsplit(".", 1)[-1]
        by_pack.setdefault(pack, []).append(
            (name, sql is not None, first_sentence(fn.__doc__))
        )
    total = sum(len(v) for v in by_pack.values())
    oracled = sum(1 for v in by_pack.values() for _, has, _ in v if has)
    print("# CATALOG — every registered query\n")
    print(f"{total} entries, {oracled} with DuckDB value-hash oracles "
          f"(the rest are rows-only by design). Generated by "
          f"`tools/gen_catalog.py`; regenerate after registry changes.\n")
    for pack in sorted(by_pack):
        entries = by_pack[pack]
        print(f"## {pack} ({len(entries)})\n")
        for name, has_sql, desc in entries:
            tag = "" if has_sql else " *(rows-only)*"
            print(f"- **{name}**{tag} — {desc}")
        print()


if __name__ == "__main__":
    main()
