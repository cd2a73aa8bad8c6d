"""CLI verbs (reference cmd/{dump,restore,validate}, list-transformers)."""

import json
import os

import yaml

from greenmask_spark.cli import main


def _cfg(sf_dir, out_dir):
    return {
        "source": {"dir": sf_dir, "tables": ["customer", "orders"]},
        "dump": {"output": out_dir},
        "common": {"salt": "cli-s1", "seed": 7},
        "tables": [
            {
                "name": "customer",
                "primary_key": ["c_custkey"],
                "transformers": [
                    {"name": "Hash", "salt": "cli-s1",
                     "params": {"column": "c_name", "function": "sha256"}},
                ],
            },
        ],
        "subset": {
            "conditions": {"customer": "c_acctbal > 0"},
            "references": [
                {"child": "orders", "parent": "customer",
                 "fk": ["o_custkey"], "pk": ["c_custkey"]},
            ],
        },
    }


def test_cli_dump_restore_roundtrip(spark, sf_dir, tmp_path, capsys):
    cfg_path = str(tmp_path / "cfg.yml")
    dump_dir = str(tmp_path / "dumpout")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(_cfg(sf_dir, dump_dir), fh)

    assert main(["dump", "--config", cfg_path]) == 0
    dumped = json.loads(capsys.readouterr().out.strip().split("\n")[-1])
    assert dumped["dumped"] == ["customer", "orders"]
    assert os.path.exists(os.path.join(dump_dir, "_manifest.json"))

    # masked + subset applied
    cust = spark.read.parquet(os.path.join(dump_dir, "customer"))
    import re

    rows = cust.limit(5).collect()
    assert all(re.fullmatch(r"[0-9a-f]{64}", r.c_name) for r in rows)
    assert cust.filter("c_acctbal <= 0").count() == 0
    # orders referentially intact w.r.t. the subset customer set
    orders = spark.read.parquet(os.path.join(dump_dir, "orders"))
    keys = {r.c_custkey for r in cust.select("c_custkey").collect()}
    assert all(r.o_custkey in keys
               for r in orders.select("o_custkey").limit(200).collect())

    restore_dir = str(tmp_path / "restored")
    assert main(["restore", "--input", dump_dir,
                 "--output", restore_dir]) == 0
    restored = json.loads(capsys.readouterr().out.strip().split("\n")[-1])
    assert restored["order"].index("customer") \
        < restored["order"].index("orders")
    back = spark.read.parquet(os.path.join(restore_dir, "customer"))
    assert back.count() == cust.count()


def test_cli_dump_copy_format(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "copydump")
    cfg = _cfg(sf_dir, out)
    cfg["dump"]["format"] = "copy"
    cfg.pop("subset")
    cfg_path = str(tmp_path / "cfg_copy.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()
    files = os.listdir(os.path.join(out, "customer"))
    assert any(f.endswith(".gz") for f in files)

    from greenmask_spark.session import load_tables
    from greenmask_spark.sources.copy_format import read_copy

    schema = load_tables(spark, sf_dir, ("customer",))["customer"].schema
    back = read_copy(spark, os.path.join(out, "customer"), schema)
    assert back.count() == load_tables(
        spark, sf_dir, ("customer",))["customer"].count()


def test_cli_validate(spark, sf_dir, tmp_path, capsys):
    cfg = _cfg(sf_dir, str(tmp_path / "unused"))
    cfg_path = str(tmp_path / "cfg_v.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["validate", "--config", cfg_path, "--rows-limit", "50"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().split("\n")[-1])
    assert rep["tables"]["customer"]["rows_changed"] > 0
    assert rep["tables"]["customer"]["rows_checked"] <= 50


def test_cli_validate_fatal_on_bad_column(spark, sf_dir, tmp_path, capsys):
    cfg = _cfg(sf_dir, str(tmp_path / "unused"))
    cfg["tables"][0]["transformers"][0]["params"]["column"] = "no_such_col"
    cfg_path = str(tmp_path / "cfg_bad.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["validate", "--config", cfg_path]) == 1
    rep = json.loads(capsys.readouterr().out.strip().split("\n")[-1])
    assert any(w["severity"] == "error" for w in rep["warnings"])


def test_cli_list_transformers(capsys):
    assert main(["list-transformers", "--compact"]) == 0
    out = json.loads(capsys.readouterr().out)
    names = {t["name"] for t in out}
    assert {"Hash", "RandomInt", "Masking", "Template", "Cmd"} <= names
    assert len(names) >= 51


def test_cli_storage_verbs(spark, sf_dir, tmp_path, capsys):
    """list-dumps / show-dump / delete over a storage directory."""
    root = str(tmp_path / "storage")
    dump_dir = os.path.join(root, "d1")
    cfg = _cfg(sf_dir, dump_dir)
    cfg.pop("subset")
    cfg_path = str(tmp_path / "cfg_s.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()

    assert main(["list-dumps", "--dir", root]) == 0
    dumps = json.loads(capsys.readouterr().out.strip())
    assert dumps and dumps[0]["dump"] == "d1" and dumps[0]["tables"] == 2

    assert main(["show-dump", "--input", dump_dir]) == 0
    manifest = json.loads(capsys.readouterr().out)
    assert {t["name"] for t in manifest["tables"]} == {"customer", "orders"}

    # delete refuses non-dump paths, removes real dumps
    assert main(["delete", "--input", str(tmp_path)]) == 2
    capsys.readouterr()
    assert main(["delete", "--input", dump_dir]) == 0
    assert not os.path.exists(dump_dir)


def test_cli_dump_manifest_carries_pk_and_rejects_unknown_table(
    spark, sf_dir, tmp_path, capsys
):
    """Config-declared primary_key must land in the dump manifest (the
    restore side builds conflict clauses from it), and a config table
    absent from the source must fail cleanly, not KeyError."""
    dump_dir = str(tmp_path / "pkdump")
    cfg = _cfg(sf_dir, dump_dir)
    cfg.pop("subset")
    cfg_path = str(tmp_path / "cfg_pk.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()
    with open(os.path.join(dump_dir, "_manifest.json")) as fh:
        manifest = json.load(fh)
    pk_by_table = {t["name"]: t.get("primary_key") for t in manifest["tables"]}
    assert pk_by_table["customer"] == ["c_custkey"]

    cfg["tables"].append({
        "name": "no_such_table",
        "transformers": [{"name": "SetNull", "params": {"column": "x"}}],
    })
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 2
    assert "no_such_table" in capsys.readouterr().err


def test_cli_validate_unknown_table_resolved_hash(spark, sf_dir, tmp_path,
                                                  capsys):
    """An unknown-table ERROR suppressed via resolved_warnings must not
    crash the diff loop with a KeyError — the table is skipped."""
    cfg = _cfg(sf_dir, str(tmp_path / "unused"))
    cfg["tables"].append({
        "name": "ghost",
        "primary_key": ["g_id"],
        "transformers": [{"name": "SetNull", "params": {"column": "g_id"}}],
    })
    from greenmask_spark.validate import ValidationWarning

    ghost_hash = ValidationWarning(
        "table 'ghost' not found", "error", {"TableName": "ghost"}
    ).hash
    cfg["resolved_warnings"] = [ghost_hash]
    cfg_path = str(tmp_path / "cfg_ghost.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["validate", "--config", cfg_path]) == 0
    rep = json.loads(capsys.readouterr().out.strip().split("\n")[-1])
    assert "ghost" not in rep["tables"]
    assert rep["tables"]["customer"]["rows_changed"] > 0


def test_read_dump_reads_copy_format(spark, sf_dir, tmp_path, capsys):
    """Library read_dump (not just the CLI) must handle COPY dumps."""
    out = str(tmp_path / "copydump3")
    cfg = _cfg(sf_dir, out)
    cfg["dump"]["format"] = "copy"
    cfg.pop("subset")
    cfg_path = str(tmp_path / "cfg_copy3.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()

    from greenmask_spark.session import load_tables
    from greenmask_spark.sources.io import read_dump

    back = read_dump(spark, out)
    src = load_tables(spark, sf_dir, ("customer",))["customer"]
    assert back["customer"].count() == src.count()
    assert {f.name for f in back["customer"].schema.fields} \
        == {f.name for f in src.schema.fields}


def test_cli_show_transformer(capsys):
    assert main(["show-transformer", "Masking"]) == 0
    t = json.loads(capsys.readouterr().out)
    assert t["name"] == "Masking" and "doc" in t


def test_cli_restore_from_copy_dump(spark, sf_dir, tmp_path, capsys):
    """restore must read COPY-format dumps too, decoding against the
    manifest schema snapshot."""
    out = str(tmp_path / "copydump2")
    cfg = _cfg(sf_dir, out)
    cfg["dump"]["format"] = "copy"
    cfg.pop("subset")
    cfg_path = str(tmp_path / "cfg_copy2.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()

    restore_dir = str(tmp_path / "restored_copy")
    assert main(["restore", "--input", out, "--output", restore_dir]) == 0
    capsys.readouterr()
    back = spark.read.parquet(os.path.join(restore_dir, "customer"))
    from greenmask_spark.session import load_tables

    src = load_tables(spark, sf_dir, ("customer",))["customer"]
    assert back.count() == src.count()
    assert {f.name for f in back.schema.fields} \
        == {f.name for f in src.schema.fields}


def test_validate_text_rendering(spark):
    """Horizontal/vertical diff tables (reference validate_utils/
    text_document.go:46-326): merged %LineNum% cells, original+transformed
    row pairs, (!!!) markers on undeclared changes, ANSI colors opt-in."""
    from greenmask_spark.validate.text_render import render_diff_text

    orig = spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 20)], "id long, name string, v int")
    tran = spark.createDataFrame(
        [(1, "xxxxx", 10), (2, "yyy", 99)], "id long, name string, v int")

    out = render_diff_text(
        orig, tran, pk=["id"], affected=["name"],
        table_format="horizontal", table="people")
    assert '\t"public"."people"' in out
    assert "%LineNum%" in out and "name" in out
    # v changed on row 1 but was not declared affected
    assert "v (!!!)" in out
    # two data rows per record (original above transformed)
    assert out.count("alice") == 1 and out.count("xxxxx") == 1
    # merged line-number cells: '0' appears once in its column
    lines = [ln for ln in out.splitlines() if ln.startswith("|")]
    first_col = [ln.split("|")[1].strip() for ln in lines]
    assert first_col.count("0") == 1 and first_col.count("1") == 1
    # no ANSI escapes unless color=True
    assert "\x1b[" not in out
    colored = render_diff_text(
        orig, tran, pk=["id"], affected=["name"],
        table_format="horizontal", table="people", color=True)
    assert "\x1b[92m" in colored and "\x1b[91m" in colored

    vert = render_diff_text(
        orig, tran, pk=["id"], affected=["name", "v"],
        table_format="vertical", table="people")
    assert "OriginalValue" in vert and "TransformedValue" in vert
    assert "v (!!!)" not in vert  # declared affected this time
    # one row per (record, column): 2 records × 2 columns
    data_lines = [ln for ln in vert.splitlines()
                  if ln.startswith("|") and "%LineNum%" not in ln]
    assert len(data_lines) == 4

    plain = render_diff_text(
        orig, tran, pk=["id"], affected=["name"],
        table_format="horizontal", with_diff=False, table="people")
    assert "alice" not in plain and "xxxxx" in plain


def test_validate_cli_text_format(spark, tmp_path, capsys):
    """validate --format text renders a table document per configured
    table."""
    import json as _json

    import greenmask_spark.cli as cli

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "id long, name string"
    ).write.parquet(src + "/people.parquet")
    cfg = {
        "source": {"dir": src, "tables": ["people"]},
        "tables": [{
            "name": "people",
            "primary_key": ["id"],
            "transformers": [{"name": "Hash", "params": {
                "column": "name", "function": "sha256", "salt": "x"}}],
        }],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(_json.dumps(cfg))
    rc = cli.main(["validate", "--config", str(cfg_path),
                   "--format", "text", "--table-format", "vertical"])
    out = capsys.readouterr().out
    assert rc == 0
    assert '"public"."people"' in out
    assert "OriginalValue" in out


def test_expand_env_vars_semantics():
    """Config tier: ${VAR} / ${VAR:-default} on parsed values; escape;
    loud failure on undefined; keys and non-strings untouched
    (reference: cmd/greenmask/cmd/root.go:140 viper.AutomaticEnv +
    tests/integration/greenmask/env_interpolation_test.go)."""
    import pytest

    from greenmask_spark.cli import expand_env_vars

    env = {"SALT": "s-env", "DIR": "/data"}
    cfg = {
        "common": {"salt": "${SALT}", "seed": 7},
        "source": {"dir": "${DIR}/tables", "tables": ["a"]},
        "opt": "${MISSING:-fallback}",
        "empty_default": "${MISSING:-}",
        "escaped": "$${SALT} stays",
        "regex": r"a$b[${}]?",  # bare $ untouched (not ${...} syntax)
        "${KEY}": "keys are never expanded",
        "mixed": "pre-${SALT}-post",
    }
    got = expand_env_vars(cfg, env)
    assert got["common"] == {"salt": "s-env", "seed": 7}
    assert got["source"]["dir"] == "/data/tables"
    assert got["opt"] == "fallback" and got["empty_default"] == ""
    assert got["escaped"] == "${SALT} stays"
    assert got["regex"] == r"a$b[${}]?"
    assert "${KEY}" in got
    assert got["mixed"] == "pre-s-env-post"
    # undefined outside params: verbatim + warning by default (a ported
    # config may carry literal ${...} for other tooling and must load);
    # strict=True restores the loud failure
    with pytest.warns(UserWarning, match="UNDEF"):
        kept = expand_env_vars({"x": "${UNDEF}"}, env)
    assert kept == {"x": "${UNDEF}"}
    with pytest.raises(KeyError, match="UNDEF"):
        expand_env_vars({"x": "${UNDEF}"}, env, strict=True)


def test_expand_env_vars_sensitive_keys_strict():
    """Security-sensitive keys (salt/password/dsn/secret/credentials)
    are strict-by-default: a typo'd ${MASK_SALT} must NOT ship as the
    literal salt string even in non-strict mode — that silently
    weakens every hash it feeds. Escape and defined-variable paths
    still work; lookalike keys (salted_agg, token_col) stay lenient."""
    import pytest

    from greenmask_spark.cli import expand_env_vars

    env = {"SALT": "real"}
    # defined: expands as usual
    assert expand_env_vars({"salt": "${SALT}"}, env) == {"salt": "real"}
    # undefined under a sensitive key: hard error even without strict
    for key in ("salt", "mask_salt", "password", "db-password",
                "secret", "dsn", "credentials", "api_key"):
        with pytest.raises(KeyError, match="security-sensitive"):
            expand_env_vars({key: "${TYPO_VAR}"}, env)
    # nested and list values under the sensitive key are covered
    with pytest.raises(KeyError, match="security-sensitive"):
        expand_env_vars({"common": {"salt": "${TYPO_VAR}"}}, env)
    with pytest.raises(KeyError, match="security-sensitive"):
        expand_env_vars({"dsn": ["${TYPO_VAR}"]}, env)
    # sensitivity propagates into DICT children too: the common
    # nested-credentials shape must not warn-and-ship a literal
    with pytest.raises(KeyError, match="security-sensitive"):
        expand_env_vars(
            {"credentials": {"user": "${TYPO_VAR}"}}, env)
    with pytest.raises(KeyError, match="security-sensitive"):
        expand_env_vars(
            {"connection": {"credentials": {
                "auth": {"password_file": "${TYPO_VAR}"}}}}, env)
    # ...and through lists of dicts under a sensitive ancestor
    with pytest.raises(KeyError, match="security-sensitive"):
        expand_env_vars(
            {"secrets": [{"value": "${TYPO_VAR}"}]}, env)
    # a non-sensitive subtree NEXT TO a sensitive one stays lenient
    with pytest.warns(UserWarning):
        got = expand_env_vars(
            {"credentials": {"user": "${SALT}"},
             "paths": {"base": "${U9}"}}, env)
    assert got["paths"]["base"] == "${U9}"
    assert got["credentials"]["user"] == "real"
    # defaults and escapes remain available for deliberate values
    assert expand_env_vars({"salt": "${TYPO:-fallback}"}, env) == {
        "salt": "fallback"}
    assert expand_env_vars({"salt": "$${LITERAL}"}, env) == {
        "salt": "${LITERAL}"}
    # segment anchoring: lookalike keys stay warn-and-verbatim
    with pytest.warns(UserWarning):
        got = expand_env_vars(
            {"salted_agg": "${U1}", "token_col": "${U2}",
             "basalt_path": "${U3}"}, env)
    assert got == {"salted_agg": "${U1}", "token_col": "${U2}",
                   "basalt_path": "${U3}"}


def test_params_interpolation_opt_in():
    """Transformer params: the reference's documented resolve_env gate
    (parameters_env_vars_interpolation.md) — without the flag a $
    string in params is DATA; with it, full POSIX expansion applies."""
    import pytest

    from greenmask_spark.cli import expand_env_vars, interpolate_posix

    env = {"NEW_PASSWORD": "s3cr3t!", "EMPTY": ""}
    steps = [
        # no flag: $ strings (incl. ${UNDEF}) survive verbatim
        {"name": "RegexpReplace",
         "params": {"regexp": r"^\$\{TOKEN\}$", "replace": "${UNDEF}"}},
        # the doc's own example, flag on
        {"name": "Replace", "resolve_env": True,
         "params": {"value": "${NEW_PASSWORD}", "column": "password"}},
    ]
    got = expand_env_vars({"tables": [{"name": "test",
                                       "transformers": steps}]}, env)
    g0, g1 = got["tables"][0]["transformers"]
    assert g0["params"]["replace"] == "${UNDEF}"  # untouched without flag
    assert g1["params"]["value"] == "s3cr3t!"

    # the documented POSIX syntax table, case by case
    assert interpolate_posix("${NEW_PASSWORD}", env) == "s3cr3t!"
    assert interpolate_posix("$NEW_PASSWORD", env) == "s3cr3t!"
    assert interpolate_posix("${UNSET}", env) == ""      # empty, no error
    assert interpolate_posix("$UNSET", env) == ""
    assert interpolate_posix("${UNSET:-d}", env) == "d"
    assert interpolate_posix("${EMPTY:-d}", env) == "d"  # :- covers empty
    assert interpolate_posix("${EMPTY-d}", env) == ""    # - unset only
    assert interpolate_posix("${UNSET-d}", env) == "d"
    assert interpolate_posix("${UNSET:-}", env) == ""
    assert interpolate_posix("$$VAR literal", env) == "$VAR literal"
    with pytest.raises(KeyError, match="set it in CI"):
        interpolate_posix("${UNSET?set it in CI}", env)


def test_load_config_env_interpolation(sf_dir, tmp_path, monkeypatch):
    """A config with env-interpolated salt/path/condition loads to the
    EXACT dict the literal config produces — same dict, same plan."""
    from greenmask_spark.cli import load_config

    literal = _cfg(sf_dir, str(tmp_path / "out"))
    env_cfg = {
        "source": {"dir": "${GMS_SRC_DIR}", "tables": ["customer", "orders"]},
        "dump": {"output": str(tmp_path / "out")},
        "common": {"salt": "${GMS_SALT}", "seed": 7},
        "tables": [
            {
                "name": "customer",
                "primary_key": ["c_custkey"],
                "transformers": [
                    {"name": "Hash", "salt": "${GMS_SALT}",
                     "params": {"column": "c_name", "function": "sha256"}},
                ],
            },
        ],
        "subset": {
            "conditions": {"customer": "c_acctbal > ${GMS_MIN_BAL:-0}"},
            "references": [
                {"child": "orders", "parent": "customer",
                 "fk": ["o_custkey"], "pk": ["c_custkey"]},
            ],
        },
    }
    monkeypatch.setenv("GMS_SRC_DIR", sf_dir)
    monkeypatch.setenv("GMS_SALT", "cli-s1")
    monkeypatch.delenv("GMS_MIN_BAL", raising=False)
    p = tmp_path / "cfg_env.yml"
    with open(p, "w") as fh:
        yaml.safe_dump(env_cfg, fh)
    assert load_config(str(p)) == literal
    # json path expands too
    pj = tmp_path / "cfg_env.json"
    pj.write_text(json.dumps(env_cfg))
    assert load_config(str(pj)) == literal


def test_cli_dump_columns_type_override(spark, sf_dir, tmp_path, capsys):
    """A reference-style YAML with columns_type_override flows through
    cmd_dump → build_plan → apply_plan: the dumped parquet carries the
    overridden types (reference: internal/domains/config.go:171)."""
    import warnings

    cfg_path = str(tmp_path / "cfg_to.yml")
    dump_dir = str(tmp_path / "dump_to")
    cfg = {
        "source": {"dir": sf_dir, "tables": ["orders"]},
        "dump": {"output": dump_dir},
        "tables": [{
            "name": "orders",
            "columns_type_override": {
                "o_orderkey": "int4",
                "o_custkey": "text",
            },
        }],
    }
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # narrowing warning is expected
        assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()
    out = spark.read.parquet(os.path.join(dump_dir, "orders"))
    assert out.schema["o_orderkey"].dataType.simpleString() == "int"
    assert out.schema["o_custkey"].dataType.simpleString() == "string"


def test_cli_dump_applies_for_references(spark, sf_dir, tmp_path, capsys):
    """A Hash on the parent key flagged apply_for_references is re-bound
    onto every referencing FK column, so the dumped orders still join to
    the dumped customers (reference: config_builder.go getRefTables)."""
    dump_dir = str(tmp_path / "refdump")
    cfg = _cfg(sf_dir, dump_dir)
    # Hash masks text: both key columns are read as text
    cfg["tables"][0]["columns_type_override"] = {"c_custkey": "text"}
    cfg["tables"][0]["transformers"].append(
        {"name": "Hash", "salt": "cli-s1",
         "params": {"column": "c_custkey", "function": "sha256",
                    "apply_for_references": True}})
    cfg["tables"].append({"name": "orders",
                          "columns_type_override": {"o_custkey": "text"}})
    cfg_path = str(tmp_path / "cfg_ref.yml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(cfg, fh)
    assert main(["dump", "--config", cfg_path]) == 0
    capsys.readouterr()
    cust = spark.read.parquet(os.path.join(dump_dir, "customer"))
    orders = spark.read.parquet(os.path.join(dump_dir, "orders"))
    assert orders.count() > 0
    keys = {r.c_custkey for r in cust.select("c_custkey").collect()}
    dumped = {r.o_custkey for r in orders.select("o_custkey").collect()}
    assert dumped <= keys
    # the key really was masked, on both sides
    assert all(isinstance(k, str) and len(k) == 64 for k in keys)
