"""The registry's binding table (plans/registry.py ``BINDINGS``): every
row resolves to a function that can take its catalog frames
positionally, parameter errors stay those of keyword-only adapters,
loading the registry imports no op module, and docs/API.md is exactly
what tools/gendocs.py renders. None of these tests starts Spark."""

import inspect
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import gendocs  # noqa: E402
from pyspark_pipeline_framework_spark.plans import registry  # noqa: E402
from pyspark_pipeline_framework_spark.plans.registry import (  # noqa: E402
    BINDINGS,
    default_registry,
    resolve,
)

_POSITIONAL = (inspect.Parameter.POSITIONAL_ONLY, inspect.Parameter.POSITIONAL_OR_KEYWORD)

#: non-frame arguments the hand-written adapters passed positionally;
#: the binder passes them by keyword, so the target must name them so
_FORMERLY_POSITIONAL = {
    "ivf_add": "dim", "ivf_search": "dim", "pq_encode": "dim", "pq_search": "dim",
    "ivfpq_add": "dim", "ivfpq_search": "dim", "semantic_dedup_pairs": "dim",
    "token_budget_sample": "budget_tokens",
}

_MISSING_INPUT_CASES = [(op, n) for op, (_, ins) in sorted(BINDINGS.items()) for n in ins]


class _Catalog:
    """Catalog stand-in: ``get`` echoes the name, ``put`` records."""

    def __init__(self):
        self.stored = {}

    def get(self, name):
        return f"frame:{name}"

    def put(self, name, df):
        self.stored[name] = df
        return df


@pytest.mark.parametrize("op", sorted(BINDINGS))
def test_binding_target_takes_its_frames_positionally(op):
    target, inputs = BINDINGS[op]
    params = inspect.signature(resolve(target)).parameters.values()
    assert sum(p.kind in _POSITIONAL for p in params) >= len(inputs), op
    assert default_registry.get(op).target == target


@pytest.mark.parametrize("op", sorted(_FORMERLY_POSITIONAL))
def test_formerly_positional_args_are_named_target_params(op):
    name = _FORMERLY_POSITIONAL[op]
    param = inspect.signature(resolve(BINDINGS[op][0])).parameters.get(name)
    assert param is not None and param.kind in _POSITIONAL, (op, name)


@pytest.mark.parametrize("op,missing", _MISSING_INPUT_CASES)
def test_missing_catalog_input_is_a_type_error_naming_it(op, missing):
    inputs = BINDINGS[op][1]
    params = {n: n for n in inputs if n != missing}
    with pytest.raises(TypeError, match=f"'{missing}'"):
        default_registry.get(op)(None, _Catalog(), output="out", **params)


@pytest.mark.parametrize("op", sorted(BINDINGS))
def test_unknown_param_is_the_targets_own_type_error(op):
    params = {n: n for n in BINDINGS[op][1]}
    with pytest.raises(TypeError, match="unexpected keyword argument 'no_such_param'"):
        default_registry.get(op)(None, _Catalog(), output="out", no_such_param=1, **params)


def test_binder_passes_frames_positionally_and_the_rest_by_keyword(monkeypatch):
    seen = []

    def fake_target(*args, **kwargs):
        seen.append((args, kwargs))
        return "result"

    monkeypatch.setattr(registry, "resolve", lambda target: fake_target)
    op = registry.bind("demo", "x:y", ("input", "queries"))
    cat = _Catalog()
    out = op(None, cat, output="o", queries="q", input="d", dim=8, k=3)
    assert out == "result" and cat.stored == {"o": "result"}
    assert seen == [(("frame:d", "frame:q"), {"dim": 8, "k": 3})]
    assert "output" in inspect.signature(op).parameters


def test_importing_the_runner_loads_no_op_module():
    code = (
        "import sys\n"
        "import pyspark_pipeline_framework_spark.plans.runner\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pandas', 'pyarrow')"
        " or m.startswith('pyspark_pipeline_framework_spark.llm')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO}, timeout=120, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout


@pytest.fixture(scope="module")
def api_md():
    return gendocs.render()


def test_api_md_is_regenerated(api_md):
    with open(gendocs.API_MD) as f:
        committed = f.read()
    assert committed == api_md, "docs/API.md is stale: run python tools/gendocs.py"


def test_every_op_has_a_params_line_naming_its_parameters(api_md):
    for name in default_registry.names():
        m = re.search(
            rf"^### `op: {name}`\n\n(?:- [^\n]*\n)*?- \*\*params\*\*: `\(([^\n]*)\)(?: -> [^\n]*)?`$",
            api_md, re.M,
        )
        assert m and m.group(1).strip(), name
        if name in BINDINGS:
            target, inputs = BINDINGS[name]
            wanted = list(inputs) + list(inspect.signature(resolve(target)).parameters)[len(inputs):]
            for p in wanted:
                assert re.search(rf"\b{p}\b", m.group(1)), (name, p)
