"""Generate docs/API.md — the per-operator API reference.

Introspects the live package (never a hand-maintained list):

- every op in ``plans.registry.default_registry`` (the config-pipeline
  surface: what an ``op:`` line in HOCON/JSON can name),
- every public function of the ``llm.*`` and ``operators.*`` modules
  (the library surface),
- cross-referenced against the correctness suite: for each function,
  the ``q_*`` case(s) whose body calls it — the oracle-gated proof the
  driver and ``tools/selfcheck.py`` re-run every round.

Usage: python tools/gendocs.py   (rewrites docs/API.md in place;
``tests/test_registry_bindings.py`` fails when the committed file
differs from :func:`render`).
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
API_MD = os.path.join(REPO, "docs", "API.md")

#: library modules documented function-by-function
LIB_MODULES = [
    "pyspark_pipeline_framework_spark.llm.dedup",
    "pyspark_pipeline_framework_spark.llm.similarity",
    "pyspark_pipeline_framework_spark.llm.pq",
    "pyspark_pipeline_framework_spark.llm.retrieval",
    "pyspark_pipeline_framework_spark.llm.text",
    "pyspark_pipeline_framework_spark.llm.packing",
    "pyspark_pipeline_framework_spark.llm.multimodal",
    "pyspark_pipeline_framework_spark.operators.joins",
    "pyspark_pipeline_framework_spark.operators.windows",
    "pyspark_pipeline_framework_spark.operators.events",
    "pyspark_pipeline_framework_spark.operators.partitioning",
]


def _first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.strip().split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text if text.endswith(".") else text + "."


def _rel(fn) -> str:
    try:
        path = inspect.getsourcefile(fn)
        _, line = inspect.getsourcelines(fn)
        return f"{os.path.relpath(path, REPO)}:{line}"
    except (TypeError, OSError):
        return "?"


def _sig(fn) -> str:
    try:
        return str(inspect.signature(fn))
    except (TypeError, ValueError):
        return "(...)"


def _op_doc(fn) -> tuple[object, str]:
    """(the function that documents op ``fn``, its params signature). A
    binding-table op is documented by its target: its catalog inputs,
    then the target's parameters after the positional frames."""
    target = getattr(fn, "target", None)
    if target is None:
        return fn, _sig(fn)
    from pyspark_pipeline_framework_spark.plans.registry import resolve

    wrapped = resolve(target)
    kw = inspect.Parameter.KEYWORD_ONLY
    rest = list(inspect.signature(wrapped).parameters.values())[len(fn.inputs):]
    params = [inspect.Parameter(n, kw, annotation="str") for n in fn.inputs]
    params += [p.replace(kind=kw) for p in rest]
    return wrapped, str(inspect.Signature(params))


def _suite_xref() -> dict[str, list[str]]:
    """function name -> sorted suite case names whose source calls it."""
    from pyspark_pipeline_framework_spark.suite import all_cases

    import pyspark_pipeline_framework_spark.llm as llm_pkg
    import pyspark_pipeline_framework_spark.operators as ops_pkg

    names: set[str] = set()
    for modname in LIB_MODULES:
        mod = __import__(modname, fromlist=["*"])
        for n, obj in vars(mod).items():
            if not n.startswith("_") and inspect.isfunction(obj) \
                    and obj.__module__ == modname:
                names.add(n)
    del llm_pkg, ops_pkg
    xref: dict[str, list[str]] = {}
    for case_name, case in sorted(all_cases().items()):
        try:
            src = inspect.getsource(case.spark_fn)
        except (TypeError, OSError):
            continue
        for n in names:
            if n + "(" in src:
                xref.setdefault(n, []).append(case_name)
    return xref


def render() -> str:
    """The full text of docs/API.md for the package as it is now."""
    from pyspark_pipeline_framework_spark.plans.registry import default_registry

    from pyspark_pipeline_framework_spark import __version__

    xref = _suite_xref()
    out: list[str] = [
        "# API reference",
        "",
        f"Version {__version__} (see `CHANGELOG.md` for release notes).",
        "",
        "Generated by `python tools/gendocs.py` — regenerate after adding",
        "an operator; do not edit by hand. Three columns of evidence per",
        "entry: where it lives (`file:line`), what it does (first doc",
        "sentence), and which oracle-gated suite case(s) exercise it",
        "(`q_*` names are re-verified against DuckDB by the correctness",
        "gate every round; see `tools/selfcheck.py`).",
        "",
        "## Config-pipeline operators (`op:` names)",
        "",
        "Every name registerable in a pipeline config component",
        "(`plans/registry.py` `default_registry`). Params are the",
        "component's `params:` mapping keys.",
        "",
    ]
    for name in default_registry.names():
        fn, params = _op_doc(default_registry.get(name))
        out += [
            f"### `op: {name}`",
            "",
            f"- **source**: `{_rel(fn)}`",
            f"- **contract**: {_first_sentence(inspect.getdoc(fn))}",
            f"- **params**: `{params}`",
            "",
        ]
    for modname in LIB_MODULES:
        mod = __import__(modname, fromlist=["*"])
        short = modname.split("pyspark_pipeline_framework_spark.")[-1]
        fns = [
            (n, obj) for n, obj in sorted(vars(mod).items())
            if not n.startswith("_") and inspect.isfunction(obj)
            and obj.__module__ == modname
        ]
        if not fns:
            continue
        out += [f"## `{short}`", ""]
        for n, obj in fns:
            cases = xref.get(n)
            out += [
                f"### `{short.split('.')[-1]}.{n}`",
                "",
                f"- **source**: `{_rel(obj)}`",
                f"- **signature**: `{n}{_sig(obj)}`",
                f"- **contract**: {_first_sentence(inspect.getdoc(obj))}",
            ]
            if cases:
                out.append(
                    "- **oracle-gated by**: " + ", ".join(f"`{c}`" for c in cases)
                )
            out.append("")
    out += [
        "## Other surfaces",
        "",
        "Streaming sources/sinks/pipelines, data-quality checks,",
        "orchestration (runner, retry, circuit breaker, checkpointing,",
        "secrets, observability) and session management are class-based",
        "surfaces documented in `docs/ARCHITECTURE.md` and covered by",
        "`tests/` rather than SQL oracles.",
        "",
    ]
    return "\n".join(out)


def main() -> int:
    with open(API_MD, "w") as f:
        f.write(render())
    print(f"wrote {API_MD}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
