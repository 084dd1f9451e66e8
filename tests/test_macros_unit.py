"""Pure-Python unit tests for macros.py — the restricted Jinja subset.

Pins the round-3 ADVICE fixes:

1. a macro call followed by expression text (`{{ m(1) ~ '_x' }}`) fails
   loudly instead of silently dropping the trailing expression;
2. the expansion depth bound counts true NESTING, so many flat sibling
   call sites (routine in production trees) never trip it;
3. untaken if/elif/else branches and zero-iteration loop bodies are
   scanned, not evaluated — `{% set %}` in a false branch cannot leak
   into scope and unbound names there cannot raise (Jinja semantics).

Plus the round-3 feature: control flow inside macro bodies (the
reference's own macro shape, macros/udf/get_create_function_as_sql.sql:6-11).
"""

from __future__ import annotations

import pytest

from dbt_bigquery_udf_spark.macros import (
    _Unresolved,
    expand_macros,
    parse_macros,
    render_control_flow,
)
from dbt_bigquery_udf_spark.models.core import EngineError


def _vf(name, default):
    if default is not _Unresolved:
        return default
    raise EngineError(f"no var {name}")


def test_trailing_expression_after_call_fails_loudly():
    md = parse_macros("{% macro m(x) %}f({{ x }}){% endmacro %}")
    with pytest.raises(EngineError, match="followed by expression text"):
        expand_macros("{{ m(1) ~ '_suffix' }}", md)
    with pytest.raises(EngineError, match="followed by expression text"):
        expand_macros("{{ m(1) | upper }}", md)
    # bare calls (with whitespace / whitespace-control close) still expand
    assert expand_macros("{{ m(1) }}", md) == "f(1)"
    assert expand_macros("{{ m(1)   }}", md) == "f(1)"
    assert expand_macros("{{ m(1) -}}", md) == "f(1)"


def test_flat_sibling_calls_do_not_trip_depth():
    md = parse_macros("{% macro m(x) %}f({{ x }}){% endmacro %}")
    body = " ".join("{{ m(%d) }}" % i for i in range(40))
    out = expand_macros(body, md)
    assert out.count("f(") == 40


def test_true_recursion_still_bounded():
    md = parse_macros("{% macro r(x) %}{{ r(x) }}{% endmacro %}")
    with pytest.raises(EngineError, match="nesting depth"):
        expand_macros("{{ r(1) }}", md)


def test_nested_macros_count_nesting_not_call_sites():
    # 3-deep nesting, called 20 times: depth is 3, not 60.
    md = parse_macros(
        "{% macro a(x) %}A({{ b(x) }}){% endmacro %}"
        "{% macro b(x) %}B({{ c(x) }}){% endmacro %}"
        "{% macro c(x) %}C({{ x }}){% endmacro %}"
    )
    body = " ".join("{{ a(%d) }}" % i for i in range(20))
    out = expand_macros(body, md)
    assert out.count("A(B(C(") == 20


def test_set_in_false_branch_does_not_leak():
    t = (
        "{% if false %}{% set n = 5 %}{% endif %}"
        "{% if n == 5 %}LEAK{% else %}CLEAN{% endif %}"
    )
    # Jinja: n is undefined after the false branch -> our evaluator
    # fails loudly on the unknown name rather than leaking the set.
    with pytest.raises(EngineError, match="unknown name 'n'"):
        render_control_flow(t, _vf)


def test_set_in_taken_branch_persists():
    t = "{% if true %}{% set n = 5 %}{% endif %}{% if n == 5 %}OK{% endif %}"
    assert render_control_flow(t, _vf).strip() == "OK"


def test_untaken_branch_not_evaluated():
    # unbound name + required var() in a never-taken branch: no error
    t = "{% if false %}{{ x }}{% set q = var('missing_var') %}{% endif %}ok"
    assert render_control_flow(t, _vf) == "ok"
    # elif after a taken branch is not evaluated either
    t2 = "{% if true %}A{% elif var('missing_var') %}B{% endif %}"
    assert render_control_flow(t2, _vf) == "A"


def test_zero_iteration_loop_body_not_evaluated():
    t = "{% for x in [] %}{{ y }}{% set z = var('nope') %}{% endfor %}empty"
    assert render_control_flow(t, _vf) == "empty"


def test_macro_body_for_loop_with_loop_last():
    md = parse_macros(
        "{% macro join_cols(cols) %}"
        "{% for c in cols %}{{ c }}{% if not loop.last %}, {% endif %}{% endfor %}"
        "{% endmacro %}"
    )
    assert expand_macros("{{ join_cols(['a', 'b', 'c']) }}", md) == "a, b, c"


def test_macro_body_set_block_and_config_require():
    # the reference's own macro shape: {% set name %}...{% endset %}
    # block capture + config.require() dict access.
    src = open(
        "/root/reference/macros/udf/get_create_function_as_sql.sql"
    ).read()
    md = parse_macros(src, "ref")
    out = expand_macros(
        "{{ get_create_function_as_sql('db.f', 'x + 1', "
        "{'return_type': 'FLOAT64', 'params': ['x FLOAT64']}, 'doc') }}",
        md,
    )
    assert "CREATE OR REPLACE FUNCTION db.f" in out
    assert "RETURNS FLOAT64" in out and "x FLOAT64" in out


def test_config_require_missing_key_fails_loudly():
    md = parse_macros(
        "{% macro g(config) %}"
        "{% set t = config.require('return_type') %}{{ t }}"
        "{% endmacro %}"
    )
    with pytest.raises(EngineError, match="require"):
        expand_macros("{{ g({'params': []}) }}", md)
    assert expand_macros("{{ g({'return_type': 'INT64'}) }}", md) == "INT64"


def test_unsupported_macro_body_tag_rejected_at_load():
    with pytest.raises(EngineError, match="unsupported Jinja tag"):
        parse_macros("{% macro m() %}{% block x %}{% endblock %}{% endmacro %}")
    # {% call %} now loads (round 6) — but only statement() renders
    md = parse_macros(
        "{% macro m() %}{% call x() %}b{% endcall %}{% endmacro %}"
    )
    with pytest.raises(EngineError, match="statement"):
        expand_macros("{{ m() }}", md)


def test_bool_ops_return_operand_not_bool():
    """Python/Jinja and/or return the deciding OPERAND — the
    `custom or target.schema` idiom must yield the string, not 'true'
    (round-3 review fix)."""
    t = "{% set s = none or 'analytics' %}{{ s }}"
    assert render_control_flow(t, _vf).strip() == "analytics"
    t2 = "{% set s = 'first' or 'second' %}{{ s }}"
    assert render_control_flow(t2, _vf).strip() == "first"
    t3 = "{% set s = 'x' and 'y' %}{{ s }}"
    assert render_control_flow(t3, _vf).strip() == "y"
    t4 = "{% set s = none and 'y' %}{% if s is none %}ok{% endif %}"
    assert render_control_flow(t4, _vf).strip() == "ok"
    # boolean conditions still behave
    assert render_control_flow(
        "{% if 1 == 1 and 2 == 2 %}both{% endif %}", _vf
    ) == "both"


# -- fuzz: malformed input fails LOUDLY, never with a raw traceback --------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    # covers the round-6 additions too: call/statement/endcall tags,
    # filter args, subscripts, varargs/kwargs
    _ALPHABET = list("{}%#()'\", mxorifsetndcalbg[]kwv.|~=1 \n")

    @given(st.text(alphabet=_ALPHABET, max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_expand_macros_never_crashes_raw(text):
        """A loader must never dump a raw IndexError/ValueError on
        malformed user input: expand_macros + render_control_flow either
        succeed or raise EngineError."""
        md = parse_macros("{% macro m(x, y=2) %}f({{ x }}, {{ y }}){% endmacro %}")
        try:
            out = expand_macros(text, md)
            assert isinstance(out, str)
        except EngineError:
            pass  # loud and typed — the contract

    @given(st.text(alphabet=_ALPHABET, max_size=120))
    @settings(max_examples=300, deadline=None)
    def test_control_flow_never_crashes_raw(text):
        try:
            out = render_control_flow(text, _vf)
            assert isinstance(out, str)
        except EngineError:
            pass

    @given(st.text(alphabet=_ALPHABET, max_size=120))
    @settings(max_examples=200, deadline=None)
    def test_parse_macros_never_crashes_raw(text):
        try:
            parse_macros(text)
        except EngineError:
            pass


class TestDoTagAndRunQueryContext:
    """{% do %} + env-bound callables — the run-operation macro context
    (reference README v2 create_udfs shape, README.md:156-176)."""

    def test_do_evaluates_and_emits_nothing(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        calls = []
        out = render_control_flow(
            "a{% do sink('x') %}b",
            _vf,
            extra_env={"sink": lambda v: calls.append(v)},
        )
        assert out == "ab" and calls == ["x"]

    def test_do_in_untaken_branch_is_scan_only(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        calls = []
        out = render_control_flow(
            "{% if false %}{% do sink('x') %}{% endif %}ok",
            _vf,
            extra_env={"sink": lambda v: calls.append(v)},
        )
        assert out == "ok" and calls == []

    def test_context_get_returns_macro_handle(self):
        from dbt_bigquery_udf_spark.macros import (
            macro_context_callables,
            parse_macros,
            render_control_flow,
        )

        md = parse_macros(
            "{% macro greet(name, punct='!') %}hello {{ name }}{{ punct }}{% endmacro %}"
        )
        ctx = macro_context_callables(md)
        env = {"context": ctx}
        out = render_control_flow(
            "{% set f = context.get('greet') %}{% set s = f('bob') %}{{ s }}",
            _vf,
            extra_env=env,
        )
        assert out.strip() == "hello bob!"
        # kwargs bind too; unknown kwarg fails loudly
        assert ctx["greet"]("ann", punct="?") == "hello ann?"
        with pytest.raises(EngineError):
            ctx["greet"]("ann", nope=1)

    def test_query_result_table_shape(self):
        from dbt_bigquery_udf_spark.macros import QueryResultTable

        t = QueryResultTable(["a", "b"], [(1, 2), (3, 4)])
        assert t.column_names == ["a", "b"] and t.columns == ["a", "b"]
        assert list(t) == [(1, 2), (3, 4)] and len(t) == 2

    def test_kwargs_unpacking_rejected(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        with pytest.raises(EngineError):
            render_control_flow(
                "{% do f(**{'a': 1}) %}",
                _vf,
                extra_env={"f": lambda **k: None},
            )


class TestCallStatementAndFilters:
    """Round-6 Jinja subset growth: {% call statement(...) %} blocks and
    the default/join/replace/length filters (the dominant dbt_utils /
    maintenance-macro shapes after run_query)."""

    def test_call_statement_executes_body_and_names_result(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        ran = []
        out = render_control_flow(
            "a{% call statement('q', fetch_result=True) %}"
            "SELECT {{ n }}{% endcall %}b",
            _vf,
            extra_env={
                "__statement__": lambda nm, sql, fetch: ran.append(
                    (nm, sql.strip(), fetch)
                ),
                "n": 7,
            },
        )
        assert out == "ab"  # the block emits nothing
        assert ran == [("q", "SELECT 7", True)]

    def test_call_statement_default_fetch_is_false(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        ran = []
        render_control_flow(
            "{% call statement('x') %}DROP TABLE t{% endcall %}",
            _vf,
            extra_env={
                "__statement__": lambda nm, sql, fetch: ran.append(
                    (nm, fetch)
                )
            },
        )
        assert ran == [("x", False)]

    def test_call_statement_untaken_branch_scan_only(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        ran = []
        out = render_control_flow(
            "{% if false %}{% call statement('x') %}BAD{% endcall %}"
            "{% endif %}ok",
            _vf,
            extra_env={"__statement__": lambda *a: ran.append(a)},
        )
        assert out == "ok" and ran == []

    def test_call_non_statement_target_rejected(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        with pytest.raises(EngineError, match="statement"):
            render_control_flow(
                "{% call other('x') %}b{% endcall %}",
                _vf,
                extra_env={"other": lambda *a: None},
            )

    def test_call_statement_without_hook_fails_loudly(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        with pytest.raises(EngineError, match="not available"):
            render_control_flow(
                "{% call statement('x') %}SELECT 1{% endcall %}", _vf
            )

    def test_load_result_table_attrs_in_expressions(self):
        from dbt_bigquery_udf_spark.macros import (
            QueryResultTable,
            render_control_flow,
        )

        t = QueryResultTable(["a"], [(1,), (2,)])
        out = render_control_flow(
            "{% set r = load_result('q') %}"
            "{% for row in r['data'] %}{{ row[0] }};{% endfor %}"
            "n={{ r['table'].rows | length }}",
            _vf,
            extra_env={
                "load_result": lambda nm: {
                    "table": t, "data": t.rows, "response": "OK",
                }
            },
        )
        assert out == "1;2;n=2"

    def test_filters_default_join_replace_length(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        out = render_control_flow(
            "{% set xs = ['a', 'b', 'c'] %}"
            "{{ xs | join('-') }} {{ xs | length }} "
            "{% set s = 'x_y' | replace('_', '.') %}{{ s }} "
            "{% set d = none | default('fb') %}{{ d }} "
            "{% set e = '' | default('fb2', true) %}{{ e }}",
            _vf,
        )
        assert out.split() == ["a-b-c", "3", "x.y", "fb", "fb2"]

    def test_filter_pipe_in_if_condition(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        out = render_control_flow(
            "{% if items | length > 1 %}many{% else %}few{% endif %}",
            _vf,
            extra_env={"items": [1, 2, 3]},
        )
        assert out == "many"

    def test_unknown_filter_still_fails_loudly(self):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        with pytest.raises(EngineError, match="unsupported Jinja filter"):
            render_control_flow(
                "{% set y = 1 %}{{ x | wordwrap }}",
                _vf,
                extra_env={"x": "a"},
            )

    def test_context_get_unknown_macro_names_it(self):
        from dbt_bigquery_udf_spark.macros import (
            macro_context_callables,
            parse_macros,
            render_control_flow,
        )

        ctx = macro_context_callables(
            parse_macros("{% macro real() %}x{% endmacro %}")
        )
        with pytest.raises(EngineError, match="no_such_macro.*real"):
            render_control_flow(
                "{% set f = context.get('no_such_macro') %}",
                _vf,
                extra_env={"context": ctx},
            )
        # an explicit default keeps probe semantics
        out = render_control_flow(
            "{% set f = context.get('no_such_macro', none) %}"
            "{% if f is none %}absent{% endif %}",
            _vf,
            extra_env={"context": ctx},
        )
        assert out == "absent"


class TestVarargsKwargs:
    """Jinja's caught-extras semantics: a macro accepts extra
    positional/keyword arguments ONLY when its body references
    varargs/kwargs; otherwise over-calling stays a loud error."""

    def test_varargs_collects_extras(self):
        md = parse_macros(
            "{% macro cols(first) %}{{ first }}"
            "{% for v in varargs %}, {{ v }}{% endfor %}{% endmacro %}"
        )
        assert expand_macros("{{ cols('a', 'b', 'c') }}", md) == "a, b, c"
        # no extras -> empty varargs, not an error
        assert expand_macros("{{ cols('a') }}", md) == "a"

    def test_kwargs_collects_unknown_keywords(self):
        md = parse_macros(
            "{% macro opts(base) %}{{ base }}"
            "{% for k in kwargs %}/{{ k }}={{ kwargs.get(k) }}"
            "{% endfor %}{% endmacro %}"
        )
        out = expand_macros("{{ opts('x', mode='fast', retries=2) }}", md)
        assert "/mode=fast" in out and "/retries=2" in out

    def test_uncaught_extras_still_fail_loudly(self):
        md = parse_macros("{% macro m(x) %}{{ x }}{% endmacro %}")
        with pytest.raises(EngineError, match="at most"):
            expand_macros("{{ m(1, 2) }}", md)

    def test_context_handle_varargs_kwargs(self):
        from dbt_bigquery_udf_spark.macros import macro_context_callables

        md = parse_macros(
            "{% macro vjoin() %}"
            "{% for v in varargs %}{{ v }};{% endfor %}"
            "n={{ kwargs | length }}{% endmacro %}"
        )
        ctx = macro_context_callables(md)
        assert ctx["vjoin"](1, "two", extra=True) == "1;two;n=1"


class TestReviewRegressionsRound6:
    """Pins for the round-6 self-review findings."""

    def test_standalone_span_filters_act_on_value(self):
        # {{ xs | length }} of a 2-list is 2, not len of the repr text
        md = parse_macros(
            "{% macro n(xs) %}SELECT {{ xs | length }}{% endmacro %}"
        )
        assert expand_macros("{{ n(['a', 'b']) }}", md) == "SELECT 2"
        md2 = parse_macros(
            "{% macro j(xs) %}{{ xs | join('-') }}{% endmacro %}"
        )
        assert expand_macros("{{ j(['a', 'b']) }}", md2) == "a-b"

    def test_filter_args_accept_jinja_literals_in_spans(self):
        out = render_control_flow(
            "{% for x in xs %}{{ x | default('-', true) }};{% endfor %}",
            _vf,
            extra_env={"xs": ["a", "", None]},
        )
        assert out == "a;-;-;"

    def test_caught_extras_not_triggered_by_comments_or_sql(self):
        # 'kwargs' in plain SQL text / comments must not flip the
        # caught-extras flag: a typo'd keyword through the context
        # handle stays a loud error, and over-calling positionally
        # stays a loud error on the expansion path.
        from dbt_bigquery_udf_spark.macros import macro_context_callables

        md = parse_macros(
            "{% macro m(column) %}-- kwargs are unsupported here\n"
            "SELECT {{ column }} /* varargs */{% endmacro %}"
        )
        assert not md["m"].catch_kwargs and not md["m"].catch_varargs
        ctx = macro_context_callables(md)
        with pytest.raises(EngineError, match="unexpected keyword"):
            ctx["m"]("c1", colmn="x")
        with pytest.raises(EngineError, match="at most"):
            expand_macros("{{ m('a', 'b') }}", md)


class TestNamespace:
    """Round-7: Jinja namespace() — the sanctioned mutable loop-carried
    state (real dbt trees use it for found-flags and accumulators)."""

    def _render(self, s, env=None):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        return render_control_flow(
            s, lambda n, d=None: d, "t", extra_env=env or {}
        )

    def test_flag_and_counter_across_loop(self):
        out = self._render(
            "{% set ns = namespace(found=false, n=0) %}"
            "{% for x in [1, 2, 3] %}"
            "{% if x == 2 %}{% set ns.found = true %}{% endif %}"
            "{% set ns.n = ns.n + 1 %}"
            "{% endfor %}"
            "found={{ ns.found }} n={{ ns.n }}"
        )
        assert out == "found=true n=3"

    def test_list_accumulator_with_whitespace_control(self):
        out = self._render(
            "{%- set ns = namespace(cols=[]) -%}\n"
            "{%- for c in ['a', 'b'] -%}\n"
            "{%- set ns.cols = ns.cols + [c] -%}\n"
            "{%- endfor -%}\n"
            "SELECT {{ ns.cols | join(', ') }}"
        )
        assert out == "SELECT a, b"

    def test_whitespace_controlled_macro_roundtrip(self):
        # {%- -%} trim markers through macro parse + expansion — the
        # first construct a production macro tree trips on.
        from dbt_bigquery_udf_spark.macros import expand_macros, parse_macros

        md = parse_macros(
            "{%- macro cents(col, precision=2) -%}\n"
            "  round({{ col }} / 100, {{ precision }})\n"
            "{%- endmacro -%}\n"
        )
        out = expand_macros("SELECT {{ cents('amt') }} AS d", md)
        assert out == "SELECT round(amt / 100, 2) AS d"

    def test_dotted_set_requires_namespace(self):
        with pytest.raises(EngineError, match="requires a namespace"):
            self._render("{% set d = 5 %}{% set d.x = 1 %}")

    def test_namespace_rejects_positional_args(self):
        with pytest.raises(EngineError, match="keyword arguments only"):
            self._render("{% set ns = namespace(5) %}")

    def test_set_in_false_branch_does_not_leak(self):
        out = self._render(
            "{% set ns = namespace(v=1) %}"
            "{% if false %}{% set ns.v = 9 %}{% endif %}{{ ns.v }}"
        )
        assert out == "1"

    def test_arithmetic_ops(self):
        out = self._render(
            "{% set ns = namespace(v=7) %}"
            "{% set ns.v = ns.v * 3 - 1 %}"
            "{% set ns.v = ns.v % 4 %}{{ ns.v }}"
        )
        assert out == "0"
        with pytest.raises(EngineError, match="arithmetic failed"):
            self._render("{% set ns = namespace(v=1) %}{% set ns.v = ns.v / 0 %}")


class TestWidenedFilters:
    """Round-7: the Jinja filters production macro trees use beyond the
    r6 subset — column-list manipulation, numeric coercion, JSON."""

    def _render(self, s, env=None):
        # force the control-flow path (pure-span text returns unchanged)
        from dbt_bigquery_udf_spark.macros import render_control_flow

        return render_control_flow(
            "{% set __out__ = " + s[3:-3].strip() + " %}{{ __out__ }}"
            if s.startswith("{{")
            else s,
            lambda n, d=None: d,
            "t",
            extra_env=env or {},
        )

    def test_list_manipulation(self):
        env = {"cols": ["b", "a", "b", "c"]}
        assert self._render("{{ cols | unique | join(',') }}", env) == "b,a,c"
        assert self._render("{{ cols | sort | first }}", env) == "a"
        assert self._render("{{ cols | sort(true) | first }}", env) == "c"
        assert self._render("{{ cols | last }}", env) == "c"
        assert self._render("{{ cols | reverse | first }}", env) == "c"
        assert self._render("{{ cols | min }}", env) == "a"
        assert self._render("{{ cols | max }}", env) == "c"

    def test_numeric_coercion(self):
        assert self._render("{{ v | int }}", {"v": "3.7"}) == "3"
        assert self._render("{{ v | int }}", {"v": "junk"}) == "0"
        assert self._render("{{ v | int(9) }}", {"v": "junk"}) == "9"
        assert self._render("{{ v | float }}", {"v": "2.5"}) == "2.5"
        assert self._render("{{ v | abs }}", {"v": -4}) == "4"
        assert self._render("{{ v | round(1) }}", {"v": 2.46}) == "2.5"

    def test_strings_and_json(self):
        assert self._render("{{ v | capitalize }}", {"v": "abc"}) == "Abc"
        assert self._render("{{ v | title }}", {"v": "a b"}) == "A B"
        assert (
            self._render("{{ v | tojson }}", {"v": {"k": [1, "x"]}})
            == '{"k": [1, "x"]}'
        )

    def test_empty_sequence_fails_loudly(self):
        with pytest.raises(EngineError, match="empty sequence"):
            self._render("{{ v | first }}", {"v": []})

    def test_unknown_filter_still_loud(self):
        with pytest.raises(EngineError, match="unsupported Jinja filter"):
            self._render("{{ v | wordwrap }}", {"v": "x"})


class TestTildeConcat:
    """Round-7: Jinja's `~` string-concat operator — the most common
    expression shape in real dbt macros ({% set t = schema ~ '.' ~
    name %})."""

    def _render(self, s, env=None):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        return render_control_flow(
            s, lambda n, d=None: d, "t", extra_env=env or {}
        )

    def test_basic_concat(self):
        out = self._render(
            "{% set t = schema ~ '.' ~ name %}{{ t }}",
            {"schema": "analytics", "name": "orders"},
        )
        assert out == "analytics.orders"

    def test_coerces_numbers_and_bools(self):
        assert self._render("{% set s = 'v' ~ 2 %}{{ s }}") == "v2"
        assert self._render("{% set s = 'f=' ~ true %}{{ s }}") == "f=true"

    def test_tilde_inside_strings_untouched(self):
        out = self._render("{% set s = 'a~b' ~ '~' %}{{ s }}")
        assert out == "a~b~"

    def test_with_filters_and_loops(self):
        out = self._render(
            "{% set ns = namespace(sql='') %}"
            "{% for c in ['a', 'b'] %}"
            "{% set ns.sql = ns.sql ~ c ~ ',' %}"
            "{% endfor %}{{ ns.sql | trim | replace(',', ';') }}"
        )
        assert out == "a;b;"

    def test_none_concat_fails_loudly(self):
        with pytest.raises(EngineError, match="concatenate None"):
            self._render("{% set s = none ~ 'x' %}")

    def test_tilde_then_arithmetic_is_loud(self):
        # ADVICE r7: Jinja evaluates `x ~ y * 2` as x ~ (y * 2); the
        # Python-precedence rewrite would compute (x ~ y) * 2 (string
        # replication) — refuse loudly instead of mis-evaluating.
        for op in ("*", "/", "//", "%"):
            with pytest.raises(EngineError, match="parenthesize"):
                self._render(
                    "{%% set s = x ~ y %s 2 %%}{{ s }}" % op,
                    {"x": "a", "y": 3},
                )

    def test_tilde_arithmetic_parenthesized_ok(self):
        out = self._render(
            "{% set s = x ~ (y * 2) %}{{ s }}", {"x": "a", "y": 3}
        )
        assert out == "a6"
        # explicit parens around the concat keep Python semantics
        out = self._render("{% set s = (x ~ 'b') * 2 %}{{ s }}", {"x": "a"})
        assert out == "abab"

    def test_arithmetic_before_tilde_ok(self):
        # left-associativity groups `x * y ~ z` identically in both
        # grammars — no guard needed
        out = self._render(
            "{% set s = y * 2 ~ 'u' %}{{ s }}", {"y": 3}
        )
        assert out == "6u"

    def test_tilde_guard_scoped_to_bracket_group(self):
        # `~` inside parens can't interact with arithmetic outside them
        out = self._render(
            "{% set s = (x ~ y) ~ (n * 2) %}{{ s }}",
            {"x": "a", "y": "b", "n": 2},
        )
        assert out == "ab4"
        # ...and a `%` inside a string literal is not an operator
        out = self._render("{% set s = x ~ '%s' %}{{ s }}", {"x": "a"})
        assert out == "a%s"


class TestMapFilter:
    def _render(self, s, env=None):
        from dbt_bigquery_udf_spark.macros import render_control_flow

        return render_control_flow(
            "{% set __out__ = " + s[3:-3].strip() + " %}{{ __out__ }}"
            if s.startswith("{{")
            else s,
            lambda n, d=None: d,
            "t",
            extra_env=env or {},
        )

    def test_map_named_filter(self):
        env = {"cols": ["a", "b"]}
        assert self._render("{{ cols | map('upper') | join(', ') }}", env) == "A, B"
        assert (
            self._render("{{ vals | map('round', 1) | join(';') }}", {"vals": [1.26, 2.04]})
            == "1.3;2.0"
        )

    def test_map_unknown_inner_filter_loud(self):
        with pytest.raises(EngineError, match="unsupported inner filter"):
            self._render("{{ cols | map('wordwrap') }}", {"cols": ["a"]})


class TestDbtUtilsIntrospective:
    """Round-8 dbt_utils widening: star / get_column_values /
    union_relations / pivot as build-time engine helpers
    (utils_compat.build_utils_env) — unit round-trips over a fake
    SparkSession, including dbt's reserved-word kwargs (from= /
    except=), which _rewrite_keyword_kwargs maps to the helpers'
    trailing-underscore parameters."""

    class _FakeDF:
        def __init__(self, dtypes, rows=()):
            self.dtypes = dtypes
            self.columns = [n for n, _ in dtypes]
            self._rows = list(rows)

        def collect(self):
            return self._rows

    class _FakeSpark:
        def __init__(self, tables, queries=None):
            self._tables = tables
            self._queries = queries or {}
            self.last_sql = None

        def table(self, name):
            if name not in self._tables:
                raise RuntimeError(f"no table {name}")
            return self._tables[name]

        def sql(self, text):
            self.last_sql = text
            return self._queries[min(self._queries)]

    def _env(self, tables, queries=None):
        from dbt_bigquery_udf_spark.utils_compat import build_utils_env

        return build_utils_env(
            self._FakeSpark(tables, queries), lambda n: n, lambda a, b: b
        )

    def _render(self, s, env):
        # mirror Engine.render: one evaluator for tagged and tag-free
        # bodies alike
        return render_control_flow(s, lambda n, d=None: d, "t", extra_env=env)

    def test_star_round_trip(self):
        env = self._env({"db.t": self._FakeDF([("id", "int"), ("a", "string"), ("b", "double")])})
        out = self._render("{{ star(from='db.t', except=['id']) }}", env)
        assert out == "a, b"
        out = self._render(
            "{{ dbt_utils.star(from='db.t', except=['ID'], prefix='x_', "
            "relation_alias='t') }}",
            env,
        )
        assert out == "t.a AS x_a, t.b AS x_b"

    def test_star_all_excluded_is_loud(self):
        import pytest as _pytest

        env = self._env({"db.t": self._FakeDF([("id", "int")])})
        with _pytest.raises(EngineError, match="every column excluded"):
            self._render("{{ star(from='db.t', except=['id']) }}", env)

    def test_pivot_round_trip(self):
        env = self._env({})
        out = self._render(
            "{{ pivot('method', ['card', 'cash'], agg='count') }}", env
        )
        assert out == (
            "count(case when method = 'card' then 1 else 0 end) AS card, "
            "count(case when method = 'cash' then 1 else 0 end) AS cash"
        )
        # quoting of the literal: embedded quote doubled
        out = self._render("{{ pivot('m', [\"o'k\"], alias=false) }}", env)
        assert "= 'o''k'" in out and " AS " not in out

    def test_union_relations_round_trip(self):
        env = self._env(
            {
                "db.a": self._FakeDF([("id", "int"), ("x", "string")]),
                "db.b": self._FakeDF([("id", "int"), ("y", "double")]),
            }
        )
        out = self._render(
            "{{ union_relations(relations=['db.a', 'db.b']) }}", env
        )
        assert "UNION ALL" in out
        assert "cast(NULL AS double) AS y" in out  # filled for db.a
        assert "cast(NULL AS string) AS x" in out  # filled for db.b
        assert "_dbt_source_relation" in out
        # column_override forces the cast type everywhere
        out = self._render(
            "{{ union_relations(relations=['db.a', 'db.b'], "
            "column_override={'id': 'bigint'}) }}",
            env,
        )
        assert out.count("cast(id AS bigint) AS id") == 2

    def test_get_column_values_shapes_sql(self):
        df = self._FakeDF([("v", "string")], rows=[("card",), ("cash",)])
        fake = self._FakeSpark({"db.t": df}, {"q": df})
        from dbt_bigquery_udf_spark.utils_compat import build_utils_env

        env = build_utils_env(fake, lambda n: n, lambda a, b: b)
        vals = env["get_column_values"](
            table="db.t", column="m", max_records=5, where="m is not null"
        )
        assert vals == ["card", "cash"]
        assert "GROUP BY m" in fake.last_sql
        assert "WHERE m is not null" in fake.last_sql
        assert fake.last_sql.endswith("LIMIT 5")

    def test_unpivot_round_trip(self):
        df = self._FakeDF(
            [("id", "bigint"), ("q1", "double"), ("q2", "double"),
             ("junk", "string")]
        )
        env = self._env({"db.wide": df})
        sql = env["unpivot"](
            relation="db.wide",
            cast_to="double",
            exclude=["id"],
            remove=["junk"],
            field_name="quarter",
            value_name="amt",
        )
        assert sql == (
            "(SELECT id, cast('q1' AS string) AS quarter, "
            "cast(q1 AS double) AS amt FROM db.wide"
            "\nUNION ALL\n"
            "SELECT id, cast('q2' AS string) AS quarter, "
            "cast(q2 AS double) AS amt FROM db.wide)"
        )
        # upstream's (quirky) default cast is boolean
        assert "AS boolean" in env["unpivot"](relation="db.wide")

    def test_unpivot_everything_excluded_is_loud(self):
        from dbt_bigquery_udf_spark.models.core import EngineError

        df = self._FakeDF([("a", "int")])
        env = self._env({"db.t": df})
        with pytest.raises(EngineError, match="nothing to unpivot"):
            env["unpivot"](relation="db.t", remove=["a"])

    def test_keyword_kwargs_rewrite_scoped_to_code(self):
        from dbt_bigquery_udf_spark.macros import _rewrite_keyword_kwargs

        assert (
            _rewrite_keyword_kwargs("star(from=ref('x'), except=['a'])")
            == "star(from_=ref('x'), except_=['a'])"
        )
        # quoted spans untouched; == comparisons untouched
        assert (
            _rewrite_keyword_kwargs("f('from=', x) if y == 2 else g()")
            == "f('from=', x) if y == 2 else g()"
        )
