"""Declarative source specs: YAML loading + file→spec glob dispatch.

The reference's whole ingest surface is driven by YAML specs — schema
fields with type/nullable/allowed_values/min_value, a row-level rules
block, and a path glob the validator matches incoming files against
(source_specs/trading/murex_trades.yaml:34-176,
orchestrator/orchestrator/validator.py:314-328).  This module loads
that spec shape into the engine's FieldSpec/Rule model so a user
declares sources in YAML instead of hand-building specs in Python.

Specs are parsed with PyYAML (``yaml.safe_load``): it must be installed
wherever ``data_pipeline_spark.sources`` is imported (the package
``__init__`` imports this module).
"""

from __future__ import annotations

import fnmatch
import os
from dataclasses import dataclass, field

import yaml

from .readers import FieldSpec, ValidatedRead, read_csv_validated, read_json_validated
from .rules import Rule


def parse_yaml(text: str) -> dict:
    """Parse a spec document (an empty document reads as ``{}``)."""
    return yaml.safe_load(text) or {}


# ----------------------------------------------------------------------
# Spec model
# ----------------------------------------------------------------------

# reference type vocabulary (murex_trades.yaml) → spark type names
_TYPE_MAP = {
    "STRING": "string",
    "INT64": "long",
    "INTEGER": "long",
    "NUMERIC": "double",
    "FLOAT64": "double",
    "BOOL": "boolean",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "DATE": "date",
}


@dataclass
class SourceSpec:
    name: str
    path_pattern: str
    format: str = "csv"
    fields: list[FieldSpec] = field(default_factory=list)
    rules: list[Rule] = field(default_factory=list)
    encoding: str = "utf-8"
    expectations: dict = field(default_factory=dict)
    raw: dict = field(default_factory=dict)


def spec_from_dict(d: dict) -> SourceSpec:
    src = d.get("source", {}) or {}
    fields = []
    for f in d.get("schema", []) or []:
        fields.append(
            FieldSpec(
                name=f["name"],
                dtype=_TYPE_MAP.get(str(f.get("type", "STRING")).upper(), "string"),
                nullable=bool(f.get("nullable", True)),
                allowed_values=f.get("allowed_values"),
                min_value=f.get("min_value"),
                max_value=f.get("max_value"),
                xpath=f.get("xpath"),
            )
        )
    rules = []
    validation = d.get("validation", {}) or {}
    for r in validation.get("row_level", []) or []:
        rules.append(
            Rule(
                expr=r["rule"],
                severity=str(r.get("severity", "error")),
                name=r.get("name"),
            )
        )
    return SourceSpec(
        name=d.get("name", "unnamed"),
        path_pattern=src.get("path_pattern", "*"),
        format=str(src.get("format", "csv")).lower(),
        fields=fields,
        rules=rules,
        encoding=src.get("encoding", "utf-8"),
        expectations=d.get("expectations", {}) or {},
        raw=d,
    )


def load_spec(path: str) -> SourceSpec:
    with open(path, encoding="utf-8") as fh:
        return spec_from_dict(parse_yaml(fh.read()))


def load_spec_dir(spec_dir: str) -> dict[str, SourceSpec]:
    """Load every *.yaml / *.yml under spec_dir (recursively), keyed by
    spec name — the reference's source_specs/ tree."""
    out: dict[str, SourceSpec] = {}
    for root, _dirs, files in os.walk(spec_dir):
        for fn in sorted(files):
            if fn.endswith((".yaml", ".yml")):
                spec = load_spec(os.path.join(root, fn))
                out[spec.name] = spec
    return out


def match_spec(path: str, specs: dict[str, SourceSpec]) -> SourceSpec | None:
    """File → spec dispatch by glob (validator.py:314-328).

    Two phases across ALL specs: exact full-path glob first (with any
    landing/ prefix stripped from both sides), then a basename-only
    fallback.  Interleaving the fallback per-spec would let the first
    spec whose FILENAME pattern happens to match shadow another spec's
    exact directory match (e.g. desk/trades_*.csv vs ops/trades_*.csv
    both ending in trades_*.csv)."""
    def _strip_landing(p: str) -> str:
        # strip only a LEADING landing/ prefix: a substring replace
        # would mangle patterns like 'prod-landing/trades_*.csv' into
        # 'prod-trades_*.csv', which then matches nothing
        return p[len("landing/"):] if p.startswith("landing/") else p

    rel = _strip_landing(path.lstrip("/"))
    for spec in specs.values():
        if fnmatch.fnmatch(rel, _strip_landing(spec.path_pattern)):
            return spec
    for spec in specs.values():
        pattern = _strip_landing(spec.path_pattern)
        if fnmatch.fnmatch(os.path.basename(rel), os.path.basename(pattern)):
            return spec
    return None


def read_with_spec(spark, path: str, spec: SourceSpec, load_id=None) -> ValidatedRead:
    """Read + validate a file according to its spec (format dispatch)."""
    if spec.format == "csv":
        return read_csv_validated(
            spark, path, spec.fields, rules=spec.rules, load_id=load_id
        )
    if spec.format in ("json", "jsonl"):
        return read_json_validated(
            spark, path, spec.fields, rules=spec.rules, load_id=load_id
        )
    if spec.format == "xml":
        from .xml import read_xml_validated

        src = spec.raw.get("source", {}) or {}
        xml_cfg = spec.raw.get("xml_config", {}) or {}
        return read_xml_validated(
            spark,
            path,
            spec.fields,
            row_element=src.get("row_element", "row"),
            namespaces=xml_cfg.get("namespaces"),
            rules=spec.rules,
            load_id=load_id,
        )
    raise ValueError(f"unsupported source format {spec.format!r}")
