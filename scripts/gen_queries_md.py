"""Generate QUERIES.md — the per-query inventory the registry already
knows: name, verification mode, tags, and the docstring's first
sentence. Run after adding queries; CI-free way to keep the inventory
honest (it is generated, never hand-edited).

    python scripts/gen_queries_md.py > QUERIES.md
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# Drop scripts/ from sys.path: scripts/profile.py would shadow the stdlib
# `profile` module that pyspark loads through cProfile.
sys.path[:] = [os.path.dirname(HERE)] + [p for p in sys.path if p != HERE]

from embarrassingly_parallel_image_classification_spark import registry  # noqa: E402


def first_sentence(doc: str) -> str:
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text.split(stop)[0] + "."
    return text[:160]


def main() -> None:
    specs = registry.specs()
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    print("# Query inventory (generated by scripts/gen_queries_md.py)")
    print()
    print(
        f"{len(specs)} registered queries, {n_oracle} oracle-backed "
        f"(exact dtype-sensitive DuckDB diff at sf0.01), "
        f"{len(specs) - n_oracle} rows-only with pytest self-oracles. "
        f"Order below is the driver-verification order: oracle-backed "
        f"queries first, then rows-only, each in registration order."
    )
    print()
    print("| # | query | check | tags | what it proves |")
    print("|---|---|---|---|---|")
    for i, (name, spec) in enumerate(specs.items()):
        mode = "oracle" if spec.oracle is not None else "rows-only"
        tags = " ".join(spec.tags)
        print(f"| {i} | `{name}` | {mode} | {tags} | {first_sentence(spec.doc)} |")


if __name__ == "__main__":
    main()
