"""Output checks: each compares what one CLI execution wrote against the
answer ``gen.py`` recorded from its own construction (``expected.json``).

Each check returns a list of error strings; an empty list means the
output is correct. The checks read files with the standard library and
pyarrow only, never through the engine.
"""

from __future__ import annotations

import csv
from pathlib import Path

import pyarrow.dataset as ds


def _csv_rows(report_dir: Path) -> list[dict]:
    rows: list[dict] = []
    for part in sorted(report_dir.glob("part-*.csv")):
        with part.open(newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def check_validate(out: Path, rc: int, expected: dict) -> list[str]:
    """Exit code plus the exact mismatched (incl. source-only),
    schema-drift and inconsistent sets of the CSV reports."""
    errors = []
    if rc != expected["exit_code"]:
        errors.append(f"exit code {rc}, expected {expected['exit_code']}")
    runs = [p for p in out.iterdir() if p.is_dir()] if out.is_dir() else []
    if len(runs) != 1:
        return errors + [f"expected one dated run directory under {out}, found {len(runs)}"]
    run = runs[0]
    got = {
        "mismatched": sorted(
            [r["table_name"], r["partition_spec"], r["status"]]
            for r in _csv_rows(run / "TableMismatchedData")
        ),
        "schema_drift": sorted(
            [r["table_name"], r["column"], r["src_type"], r["tgt_type"], r["status"]]
            for r in _csv_rows(run / "SchemaDrift")
        ),
        "inconsistent": sorted(
            [r["table_name"], r["partition_spec"]]
            for r in _csv_rows(run / "TableDataNotConsistent")
        ),
    }
    for key, rows in got.items():
        if rows != expected[key]:
            errors.append(f"{key}: got {rows[:6]}{'...' if len(rows) > 6 else ''}, expected {expected[key]}")
    return errors


def check_export(out: Path, rc: int, expected: dict) -> list[str]:
    """Kept docs (ids, language, token count, shard, pack), kept docs per
    language and token totals per shard."""
    if rc != 0:
        return [f"exit code {rc}, expected 0"]
    table = ds.dataset(out, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "predicted_lang", "n_tokens", "shard", "pack_id"]
    )
    cols = [table.column(c).to_pylist() for c in table.column_names]
    got = {str(d): [lang, n, s, p] for d, lang, n, s, p in zip(*cols)}
    errors = []
    if len(got) != table.num_rows:
        errors.append(f"{table.num_rows - len(got)} duplicate doc_id rows")
    want = expected["kept"]
    if got.keys() != want.keys():
        missing, extra = want.keys() - got.keys(), got.keys() - want.keys()
        errors.append(f"kept set differs: {len(missing)} missing (e.g. {sorted(missing)[:3]}), "
                      f"{len(extra)} unexpected (e.g. {sorted(extra)[:3]})")
    wrong = [d for d in got.keys() & want.keys() if got[d] != want[d]]
    if wrong:
        d = wrong[0]
        errors.append(f"{len(wrong)} docs with wrong (lang, n_tokens, shard, pack_id), e.g. {d}: {got[d]} != {want[d]}")
    per_lang: dict[str, int] = {}
    shard_tokens: dict[str, int] = {str(s): 0 for s in range(expected["shards"])}
    for lang, n, s, _ in got.values():
        per_lang[lang] = per_lang.get(lang, 0) + 1
        shard_tokens[str(s)] = shard_tokens.get(str(s), 0) + n
    if dict(sorted(per_lang.items())) != expected["docs_per_lang"]:
        errors.append(f"docs per language {per_lang} != {expected['docs_per_lang']}")
    if shard_tokens != expected["shard_tokens"]:
        errors.append(f"tokens per shard {shard_tokens} != {expected['shard_tokens']}")
    return errors


def check_semdedup(out: Path, rc: int, expected: dict) -> list[str]:
    """Exact survivor count and ids."""
    if rc != 0:
        return [f"exit code {rc}, expected 0"]
    ids = sorted(ds.dataset(out, format="parquet").to_table(columns=["vec_id"]).column(0).to_pylist())
    want = expected["survivors"]
    if ids == want:
        return []
    missing, extra = set(want) - set(ids), set(ids) - set(want)
    return [f"{len(ids)} survivors, expected {len(want)}: {len(missing)} missing "
            f"(e.g. {sorted(missing)[:3]}), {len(extra)} unexpected (e.g. {sorted(extra)[:3]})"]


CHECKS = {"validate": check_validate, "export": check_export, "semdedup": check_semdedup}
