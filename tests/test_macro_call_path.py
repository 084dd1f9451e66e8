"""One macro call path (``macros.py``): every way of calling a macro —
a call site in a tag-free or a tagged body, a ``context.get`` handle, a
``{% test %}`` binding — binds through one binder and renders through
one evaluator, so the same argument renders one text, a misused filter
raises the same typed error everywhere, and an unknown keyword raises at
every entry point. Pure Python: no Spark session."""

from __future__ import annotations

import io
import os
import tokenize

import pytest

from dbt_bigquery_udf_spark.macros import (
    expand_macros,
    expand_test_macro,
    macro_context_callables,
    parse_macros,
    parse_test_macros,
    render_control_flow,
)
from dbt_bigquery_udf_spark.models.core import EngineError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "dbt_bigquery_udf_spark")

MACROS = parse_macros(
    "{% macro free(x) %}v={{ x }}{% endmacro %}"
    "{% macro tagged(x) %}{% if true %}v={{ x }}{% endif %}{% endmacro %}"
)
TESTS = parse_test_macros(
    "{% test free_t(model, x) %}v={{ x }}{% endtest %}"
    "{% test tagged_t(model, x) %}{% if true %}v={{ x }}{% endif %}{% endtest %}"
)

# (call-site text, its Python value or None when it has none, the text a
# call site renders, the text a Python value renders)
PARITY = [
    ("1.50", 1.50, "1.50", "1.5"),
    ("1e3", 1e3, "1e3", "1000.0"),
    ("TRUE", True, "TRUE", "True"),
    ("[1,2]", [1, 2], "[1,2]", "[1, 2]"),
    ("1_000", 1_000, "1_000", "1000"),
    ("(1)", (1), "(1)", "1"),
    ("'a'", "a", "a", "a"),
    ("col_a", None, "col_a", None),
]


@pytest.mark.parametrize("arg, value, call_text, value_text", PARITY)
def test_one_text_per_argument_whatever_the_body_shape(
    arg, value, call_text, value_text
):
    """A bare ``{{ x }}`` renders the argument's verbatim text from a
    call site and the Python-value adapter's ``str(v)`` from a handle or
    a schema.yml test kwarg — with or without ``{% %}`` tags in the
    body."""
    assert {
        expand_macros("{{ %s(%s) }}" % (m, arg), MACROS) for m in MACROS
    } == {f"v={call_text}"}
    if value is None:
        return
    handles = macro_context_callables(MACROS)
    assert {handles[m](value) for m in MACROS} == {f"v={value_text}"}
    assert {
        expand_test_macro(TESTS[t], "m", None, {"x": value}, {}) for t in TESTS
    } == {f"v={value_text}"}


def test_conditions_and_filters_see_the_python_value():
    md = parse_macros(
        "{% macro c(x) %}{{ x }}:{% if x == 1000 %}big{% endif %}"
        ":{{ x | string }}{% endmacro %}"
    )
    assert expand_macros("{{ c(1_000) }}", md) == "1_000:big:1000"
    assert expand_macros("{{ c(1e3) }}", md) == "1e3:big:1000.0"


def test_loop_and_set_variables_shadow_a_bound_argument():
    md = parse_macros(
        "{% macro s(p) %}{{ p }};{% for p in [7] %}{{ p }}{% endfor %};"
        "{{ p }};{% set p = 9 %}{{ p }}{% endmacro %}"
    )
    assert expand_macros("{{ s(1.50) }}", md) == "1.50;7;1.50;9"


@pytest.mark.parametrize(
    "text",
    [
        "{{ x | length }}",
        "{% set y = x | length %}",
        "{% if x | length %}a{% endif %}",
    ],
    ids=["span", "set", "if"],
)
def test_filter_misuse_raises_engine_error_everywhere(text):
    with pytest.raises(EngineError, match=r"\|length"):
        render_control_flow(text, lambda n, d: d, extra_env={"x": 3})


def test_filter_misuse_in_a_macro_body_raises_engine_error():
    for body in ("{{ x | length }}", "{% set y = x | length %}{{ y }}"):
        md = parse_macros("{% macro m(x) %}" + body + "{% endmacro %}")
        with pytest.raises(EngineError, match=r"\|length"):
            expand_macros("{{ m(3) }}", md)


def test_unknown_keyword_raises_at_every_entry_point():
    md = parse_macros("{% macro m(a, b=2) %}{{ a }}-{{ b }}{% endmacro %}")
    with pytest.raises(EngineError, match="unexpected keyword 'nope'"):
        expand_macros("{{ m(1, nope=2) }}", md)
    with pytest.raises(EngineError, match="unexpected keyword 'nope'"):
        macro_context_callables(md)["m"](1, nope=2)
    with pytest.raises(EngineError, match="unexpected keyword 'nope'"):
        render_control_flow(
            "{% set f = context.get('m') %}{{ f(1, nope=2) }}",
            lambda n, d: d,
            extra_env={"context": macro_context_callables(md)},
        )
    with pytest.raises(EngineError, match="unexpected keyword 'nope'"):
        expand_test_macro(TESTS["free_t"], "m", None, {"x": 1, "nope": 2}, {})
    # known keywords still bind, and a body that catches kwargs keeps them
    assert expand_macros("{{ m(1, b=3) }}", md) == "1-3"
    caught = parse_macros(
        "{% macro k(a) %}{{ a }}{% for n in kwargs %} {{ n }}{% endfor %}"
        "{% endmacro %}"
    )
    assert expand_macros("{{ k(1, nope=2) }}", caught) == "1 nope"
    assert macro_context_callables(caught)["k"](1, nope=2) == "1 nope"


def _private_macro_imports(path: str) -> list[str]:
    """``_``-prefixed names a module imports from ``macros``
    (``from .macros import _x``, ``from ..macros import (a, _x)``) or
    reads off it (``macros._x``)."""
    with open(path) as f:
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(f.read()).readline)
            if t.type not in (tokenize.COMMENT, tokenize.NL)
        ]
    starts = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)
    hits = []
    for i, t in enumerate(toks):
        if t.string == "from" and (i == 0 or toks[i - 1].type in starts):
            j = i + 1
            while toks[j].string != "import":
                j += 1
            if "".join(u.string for u in toks[i + 1 : j]).split(".")[-1] != "macros":
                continue
            prev = "import"
            for u in toks[j + 1 :]:
                if u.type == tokenize.NEWLINE:
                    break
                if prev in ("import", ",", "(") and u.string.startswith("_"):
                    hits.append(u.string)
                prev = u.string
        elif (
            t.string == "macros"
            and toks[i + 1].string == "."
            and toks[i + 2].string.startswith("_")
        ):
            hits.append(toks[i + 2].string)
    return hits


def test_no_module_reaches_into_macros_privates():
    own = os.path.join(PACKAGE, "macros.py")
    hits = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != own:
                hits += [
                    (os.path.relpath(path, REPO), name)
                    for name in _private_macro_imports(path)
                ]
    assert hits == []
