"""Declarative pipeline config → DataFrame plan compiler.

The reference's "query language" is a YAML config of receivers →
processors → exporters resolved and rewritten before execution
(SURVEY.md §3.1: cmd/otelcol/main.go:103-117 converter chain,
internal/configsource value resolution).  This module is that layer
for the Spark engine: a plain dict (YAML-shaped) declares the stages,
``compile_pipeline`` turns it into a function over DataFrames, and
``dry_run`` prints the fully-resolved effective plan — the analog of
the reference's ``--dry-run`` converter
(internal/configconverter/dry_run.go, asserted by
tests/general/splunk_platform_logs_test.go:56-105).

Config shape (all keys optional; defaults = the north-rule pipeline)::

    pipeline:
      parse: {engine: builtin}                 # builtin (Catalyst) | off
      exclude:                                  # filter processor (§2.4):
        - {column: role, items: ["!tool"]}      #   drop rows matching ANY
      enrich: {role_attrs: true, tool_attrs: true}
      route:
        rules:
          - {predicate: "span_id IS NOT NULL", sink: traces}
        default: events
      transform:                                # OTTL set-statements:
        - {set: sourcetype, expr: "'XmlWinEventLog'",
           where: "role = 'system'"}            #   conditional column set
      order: {by: [conv_id, turn_idx]}          # stable-turn ordering
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .enrich import enrich_turns
from .filters import overridable_string_filter
from .parse import parse_turns
from .route import DEFAULT_RULES, RoutingRule, route

DEFAULT_CONFIG: dict[str, Any] = {
    "pipeline": {
        "parse": {"engine": "builtin"},
        "exclude": [],
        "enrich": {"role_attrs": True, "tool_attrs": True},
        "transform": [],
        "route": {
            "rules": [
                {"predicate": r.predicate, "sink": r.sink} for r in DEFAULT_RULES
            ],
            "default": "events",
        },
        "order": {"by": ["conv_id", "turn_idx"]},
    }
}


_EXPR = re.compile(r"\$\{(?P<scheme>[a-z]+):(?P<sel>[^}]*)\}")
_MAX_RESOLVE_DEPTH = 10


def _resolve_expr(scheme: str, sel: str, env: dict[str, str]) -> str:
    """Resolve one ``${scheme:selector}`` expression (the config-source
    layer, internal/configsource/source.go:196-260: the public sources
    are env and file/include; vault/etcd/zookeeper need live backends
    and raise here so a config depending on them fails loudly)."""
    if scheme == "env":
        name, _, default = sel.partition(":-")
        if name in env:
            return env[name]
        if default or ":-" in sel:
            return default
        raise ValueError(f"config: ${{env:{name}}} is not set and has no default")
    if scheme in ("file", "include"):
        with open(sel) as f:
            return f.read().rstrip("\n")
    raise ValueError(
        f"config: unsupported config source {scheme!r} "
        "(supported here: env, file/include)"
    )


def _resolve_str(s: str, env: dict[str, str]):
    """Substitute every ``${scheme:selector}`` in a string.  A string
    that IS a single expression resolves to a typed value (numbers and
    booleans parse, like the reference's YAML re-parse of injected
    values); embedded expressions splice as text."""
    m = _EXPR.fullmatch(s)
    if m:
        v = _resolve_expr(m["scheme"], m["sel"], env)
        try:
            return json.loads(v)
        except (json.JSONDecodeError, ValueError):
            return v
    return _EXPR.sub(lambda m: str(_resolve_expr(m["scheme"], m["sel"], env)), s)


def resolve_config(
    config: dict | None,
    env: dict[str, str] | None = None,
    properties: dict[str, Any] | None = None,
) -> dict:
    """Config-source value resolution + property overrides (the
    converter chain of cmd/otelcol/main.go:103-117, steps the round-2
    compile layer skipped).

    1. Every string in the tree gets ``${env:NAME}`` /
       ``${env:NAME:-default}`` / ``${file:path}`` expressions
       resolved (``env`` defaults to ``os.environ``); resolution
       re-runs until a fixpoint so injected values may themselves
       contain expressions, with a depth cap against cycles.
    2. ``properties`` dot-paths overwrite resolved values
       (``{"pipeline.route.default": "metrics"}``), creating
       intermediate maps — overwrite_properties.go:41-72 semantics.
    """
    env = dict(os.environ) if env is None else env

    def walk(node, depth=0):
        if isinstance(node, dict):
            return {k: walk(v, depth) for k, v in node.items()}
        if isinstance(node, list):
            return [walk(v, depth) for v in node]
        if isinstance(node, str) and _EXPR.search(node):
            if depth >= _MAX_RESOLVE_DEPTH:
                raise ValueError(
                    f"config: expression nesting exceeds {_MAX_RESOLVE_DEPTH} "
                    f"(cycle?) at {node!r}"
                )
            return walk(_resolve_str(node, env), depth + 1)
        return node

    out = walk(dict(config or {}))
    for path, value in (properties or {}).items():
        parts = path.split(".")
        cur = out
        for p in parts[:-1]:
            nxt = cur.get(p)
            if not isinstance(nxt, dict):
                nxt = {}
                cur[p] = nxt
            cur = nxt
        cur[parts[-1]] = value
    return out


def _merged(config: dict | None) -> dict:
    """Shallow-merge user config over defaults (the property-override
    rewrite, internal/configconverter/overwrite_properties.go:41-72)."""
    base = {k: dict(v) if isinstance(v, dict) else v for k, v in DEFAULT_CONFIG["pipeline"].items()}
    user = (config or {}).get("pipeline", {})
    for k, v in user.items():
        base[k] = v
    return base


def _exclude_predicate(specs: list[dict]) -> Column | None:
    """filter-processor semantics: a row is DROPPED if any spec matches
    (OR-ed conditions, full_config_linux.yaml:493-498); each spec's
    items use the agent's overridable filter syntax
    (negation overrides, like monitor metric exclude lists)."""
    dropped = None
    for spec in specs:
        m = overridable_string_filter(F.col(spec["column"]), list(spec["items"]))
        dropped = m if dropped is None else (dropped | m)
    return dropped


def compile_pipeline(
    config: dict | None = None,
    env: dict[str, str] | None = None,
    properties: dict[str, Any] | None = None,
):
    """Compile a config dict into ``fn(turns: DataFrame) -> DataFrame``.

    ``${env:...}``/``${file:...}`` expressions and dot-path
    ``properties`` overrides resolve first (``resolve_config``), then
    user config shallow-merges over defaults.  The returned plan:
    exclude-filter → parse → enrich → route →
    sortWithinPartitions(order) — each stage present iff configured.
    """
    cfg = _merged(resolve_config(config, env=env, properties=properties))

    def run(turns: DataFrame) -> DataFrame:
        df = turns
        drop = _exclude_predicate(cfg.get("exclude") or [])
        if drop is not None:
            df = df.filter(~drop)
        engine = (cfg.get("parse") or {}).get("engine", "builtin")
        if engine == "builtin":
            df = parse_turns(df)
        elif engine != "off":
            raise ValueError(f"unknown parse engine {engine!r}")
        en = cfg.get("enrich") or {}
        if en.get("role_attrs") or en.get("tool_attrs"):
            df = enrich_turns(df)
        # OTTL transform statements (splunk_logs_config_windows.yaml:
        # 171-241 style): ordered conditional sets; an unconditional
        # statement overwrites, a conditional one preserves the prior
        # value where the condition is false.
        for stmt in cfg.get("transform") or []:
            value = F.expr(stmt["expr"])
            if stmt.get("where"):
                prior = (
                    F.col(stmt["set"])
                    if stmt["set"] in df.columns
                    else F.lit(None)
                )
                value = F.when(F.expr(stmt["where"]), value).otherwise(prior)
            df = df.withColumn(stmt["set"], value)
        rt = cfg.get("route") or {}
        rules = [RoutingRule(r["predicate"], r["sink"]) for r in rt.get("rules", [])]
        df = route(df, rules or None)
        order = (cfg.get("order") or {}).get("by")
        if order:
            df = df.repartition(F.col(order[0])).sortWithinPartitions(*order)
        return df

    run.effective_config = {"pipeline": cfg}  # type: ignore[attr-defined]
    return run


def dry_run(
    config: dict | None = None,
    env: dict[str, str] | None = None,
    properties: dict[str, Any] | None = None,
) -> str:
    """Return the fully-resolved effective config as JSON — the
    ``--dry-run`` analog (internal/configconverter/dry_run.go; output
    shape asserted like tests/general/splunk_platform_logs_test.go:
    56-105 does against the rendered effective YAML); callers print
    it and exit."""
    return json.dumps(
        compile_pipeline(config, env=env, properties=properties).effective_config,
        indent=2,
    )
