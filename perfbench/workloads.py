"""The three workloads: their configs, their op, and their output checks.

Each op is one in-process call of a CLI verb (``greenmask_spark.cli.main``)
in the warm session. Checks read the op's output with DuckDB, outside the
timed region, so they are independent of the Spark code under test. Each
check opens its own DuckDB connection and closes it, so no DuckDB memory
stays resident in the driver process while an op runs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time

import duckdb

from gen_base import SIZES

#: make_sf.py multiplier over the gen_base.py tables (sf0.01 shape). The
#: ops are bound by plan build and per-job costs, not rows: mult 4 made a
#: warm mask_dump op only ~1.4x slower, and cost run time the benchmark's
#: time budget does not have.
MULT = 1

#: the 8 TPC-H-ish tables every table workload reads
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")

#: (child, parent, fk, pk): the schema's 7 foreign keys
REFERENCES = (
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
)

PRIMARY_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    "events": ["event_id"],
}

#: mask_dump subset: restriction flows customer -> orders -> lineitem
SUBSET_CONDITIONS = {
    "customer": "c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')",
    "orders": "o_totalprice > 100000",
}

#: columns hashed to 64-hex sha256 in mask_dump (parent key and its FK)
HASHED = (("customer", "c_custkey"), ("orders", "o_custkey"))

#: expected row counts of make_sf.py's output at MULT (checked before
#: timing): dimensions are copied, everything else scales by MULT
EXPECTED_ROWS = {"region": 5, "nation": 25,
                 **{t: n * MULT for t, n in SIZES.items()}}

#: Cmd transformer child: upper-cases one text column (text driver)
_UPPER = ("import sys\n"
          "for line in sys.stdin:\n"
          "    print(line.rstrip('\\n').upper(), flush=True)")


def _step(name, column=None, **params):
    if column is not None:
        params["column"] = column
    return {"name": name, "params": params}


def _cmd_upper(column):
    return _step("Cmd", executable=sys.executable,
                 args=["-u", "-c", _UPPER], driver="text",
                 columns=[column])


def mask_dump_config(src: str, out: str, seed: int) -> dict:
    """All 8 tables masked, FK subset on customer and orders, a Template
    step on customer and a Cmd step on supplier. ``c_custkey`` and its
    FK ``o_custkey`` get the same salted sha256, so joins still hold."""
    salt = f"perfbench-{seed}"
    key_hash = dict(function="sha256", salt=salt)
    tables = [
        {"name": "region", "transformers": [
            _step("Masking", "r_name"),
        ]},
        {"name": "nation", "transformers": [
            _step("Hash", "n_name", function="md5", salt=salt),
            _step("RegexpReplace", "n_name", regexp="[0-9]", replace="x"),
        ]},
        {"name": "customer",
         "columns_type_override": {"c_custkey": "text"},
         "transformers": [
             _step("Hash", "c_custkey", **key_hash),
             _step("Masking", "c_name"),
             _step("NoiseFloat", "c_acctbal", max_ratio=0.2),
             _step("Template", "c_mktsegment",
                   template="{{ record.c_mktsegment | lower }}"),
         ]},
        {"name": "supplier", "transformers": [
            _step("NoiseFloat", "s_acctbal", max_ratio=0.2),
            _cmd_upper("s_name"),
        ]},
        {"name": "part", "transformers": [
            _step("Masking", "p_name"),
            _step("RandomChoice", "p_type", values=["A", "B", "C"]),
            _step("NoiseInt", "p_size", max_ratio=0.5),
            _step("NoiseFloat", "p_retailprice", max_ratio=0.1),
        ]},
        {"name": "orders",
         "columns_type_override": {"o_custkey": "text"},
         "transformers": [
             _step("Hash", "o_custkey", **key_hash),
             _step("NoiseFloat", "o_totalprice", max_ratio=0.1),
             _step("NoiseDate", "o_orderdate", max_interval="P30D"),
             _step("RandomChoice", "o_orderpriority",
                   values=["1-URGENT", "3-MEDIUM", "5-LOW"]),
         ]},
        {"name": "lineitem", "transformers": [
            _step("NoiseFloat", "l_extendedprice", max_ratio=0.1),
            _step("NoiseFloat", "l_discount", max_ratio=0.5),
            _step("NoiseDate", "l_shipdate", max_interval="P10D"),
            _step("Replace", "l_returnflag", value="N"),
        ]},
        {"name": "events", "transformers": [
            _step("NoiseDate", "ts", max_interval="PT6H"),
            _step("NoiseFloat", "value", max_ratio=0.3),
            _step("RandomChoice", "event_type", values=["click", "view"]),
            _step("Masking", "props"),
        ]},
    ]
    for t in tables:
        t["primary_key"] = PRIMARY_KEYS[t["name"]]
    return {
        "source": {"dir": src, "tables": list(TABLES)},
        "dump": {"output": out},
        "common": {"salt": salt, "seed": seed},
        "tables": tables,
        "subset": {
            "conditions": dict(SUBSET_CONDITIONS),
            "references": [
                {"child": c, "parent": p, "fk": [fk], "pk": [pk]}
                for c, p, fk, pk in REFERENCES
            ],
        },
    }


def validate_wide_config(src: str, seed: int) -> dict:
    """Every table with a primary key and two or three steps: column
    expression chains, multi-column faker steps, and the three
    table-level transformers (Template, TemplateRecord, Cmd)."""
    salt = f"perfbench-{seed}"
    per_table = {
        "region": [
            _step("Masking", "r_name"),
            _step("RandomWord", "r_name"),
        ],
        "nation": [
            _step("Dict", "n_name", values={"NATION_0": "N0"},
                  default="NX"),
            _step("RandomUnixTimestamp", "n_regionkey", min=0, max=100000),
        ],
        "customer": [
            _step("Hash", "c_name", salt=salt),
            _step("RandomPerson", columns=[
                {"name": "c_name", "template": "FullName"}]),
            _step("Template", "c_mktsegment",
                  template="{{ record.c_mktsegment | lower }}"),
        ],
        "supplier": [
            _step("RandomCompany", columns=[
                {"name": "s_name", "template": "CompanyName"}]),
            _cmd_upper("s_name"),
        ],
        "part": [
            _step("RandomString", "p_name", min_length=4, max_length=12),
            _step("NoiseInt", "p_size"),
        ],
        "orders": [
            _step("NoiseDate", "o_orderdate"),
            _step("TemplateRecord",
                  template="{{ set('o_orderstatus', 'Z') }}"),
        ],
        "lineitem": [
            _step("NoiseFloat", "l_extendedprice"),
            _step("SetNull", "l_returnflag"),
        ],
        "events": [
            _step("RandomEmail", "props"),
            _step("RandomIp", "props"),
        ],
    }
    return {
        "source": {"dir": src, "tables": list(TABLES)},
        "common": {"salt": salt, "seed": seed},
        "tables": [
            {"name": t, "primary_key": PRIMARY_KEYS[t],
             "transformers": per_table[t]}
            for t in TABLES
        ],
    }


def corpus_config(out: str, seed: int) -> dict:
    return {
        "preset": "fineweb",
        "args": {"input_spec": {"table": "documents"}, "output_path": out,
                 "rows_per_shard": 1000, "seed": seed},
    }


# -- running a verb -------------------------------------------------------

def run_cli(argv: list[str]) -> tuple[int, str]:
    """One in-process CLI call; returns (exit code, captured stdout)."""
    from greenmask_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    return rc, buf.getvalue()


def _last_json(text: str):
    for line in reversed(text.strip().splitlines()):
        line = line.strip()
        if line.startswith(("{", "[")):
            return json.loads(line)
    raise ValueError("no JSON line in CLI output")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def data_files(path: str) -> tuple[int, int]:
    """(data files, their bytes) under a directory; Spark's ``_SUCCESS``
    and checksum files and the manifest are not data."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _pq(path: str) -> str:
    """DuckDB scan of a parquet file or a Spark part-file directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def _restricted() -> set[str]:
    """Tables the subset restricts: the conditioned ones and their FK
    descendants."""
    out = set(SUBSET_CONDITIONS)
    changed = True
    while changed:
        changed = False
        for c, p, _fk, _pk in REFERENCES:
            if p in out and c not in out:
                out.add(c)
                changed = True
    return out


# -- the workloads --------------------------------------------------------

class Workload:
    """One workload over prepared inputs: ``op(i)`` runs verb op number
    ``i`` and returns its sample; ``check(sample)`` returns a list of
    failures, empty when the output is correct."""

    name = ""
    #: whether the op runs Python workers (Template, Cmd); the run then
    #: checks that they can import the package before timing
    python_workers = True

    def __init__(self, inputs: str, work: str, seed: int):
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.digests: list = []
        #: a tracing.Tracer in a traced run: each verb call is a span
        self.tracer = None

    def check(self, s: dict) -> list[str]:
        if s["rc"] != [0] * len(s["rc"]):
            return [f"exit codes {s['rc']}"]
        with duckdb.connect() as con:
            return self._check(con, s)

    def _check(self, con, s: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self, s: dict) -> None:
        for p in s["paths"]:
            shutil.rmtree(p, ignore_errors=True)

    def input_bytes(self) -> int:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def _cli(self, argv: list[str]) -> tuple[int, str]:
        if self.tracer is None:
            return run_cli(argv)
        with self.tracer.span(f"verb.{argv[0]}"):
            return run_cli(argv)

    def _write_config(self, cfg: dict, name: str) -> str:
        path = os.path.join(self.work, name)
        with open(path, "w") as fh:
            json.dump(cfg, fh)
        return path

    @staticmethod
    def _count(con, path: str) -> int:
        return con.execute(f"SELECT count(*) FROM {_pq(path)}").fetchone()[0]

    @staticmethod
    def _digest(con, path: str) -> tuple[int, int]:
        """Order-independent content digest: (rows, sum of row hashes)."""
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM {_pq(path)}").fetchall()]
        hashed = ", ".join(f'"{c}"' for c in cols)
        n, h = con.execute(
            f"SELECT count(*), sum(hash({hashed})::HUGEINT) FROM {_pq(path)}"
        ).fetchone()
        return int(n), int(h or 0)

    def _stable(self, digest, failures: list[str], what: str) -> None:
        if self.digests and digest != self.digests[0]:
            failures.append(f"{what} digest differs from the run's first op")
        self.digests.append(digest)


class MaskDump(Workload):
    name = "mask_dump"

    def __init__(self, inputs, work, seed):
        super().__init__(inputs, work, seed)
        self.restricted = _restricted()
        self.expected = self._oracle_counts()
        #: rows the subset keeps, over the rows of the tables it restricts
        self.rows_kept_ratio = (
            sum(self.expected[t] for t in self.restricted)
            / sum(EXPECTED_ROWS[t] for t in self.restricted))

    def input_bytes(self):
        return sum(os.path.getsize(os.path.join(self.inputs, f"{t}.parquet"))
                   for t in TABLES)

    def input_rows(self):
        return sum(EXPECTED_ROWS[t] for t in TABLES)

    def _oracle_counts(self) -> dict[str, int]:
        """The subset evaluated by DuckDB on the input files: each table
        is filtered by its condition, then semi-joined against every
        restricted parent, parents first."""
        restricted = self.restricted
        order = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events"]
        with duckdb.connect() as con:
            for t in order:
                src = _pq(os.path.join(self.inputs, f"{t}.parquet"))
                where = ([SUBSET_CONDITIONS[t]] if t in SUBSET_CONDITIONS
                         else [])
                for c, p, fk, pk in REFERENCES:
                    if c == t and p in restricted:
                        where.append(f"{fk} IN (SELECT {pk} FROM sub_{p})")
                sql = f"SELECT * FROM {src}"
                if t in restricted and where:
                    sql += " WHERE " + " AND ".join(f"({w})" for w in where)
                con.execute(f"CREATE TEMP TABLE sub_{t} AS {sql}")
            return {
                t: con.execute(f"SELECT count(*) FROM sub_{t}").fetchone()[0]
                for t in TABLES
            }

    def op(self, i: int) -> dict:
        dump = os.path.join(self.work, f"dump_{i}")
        restored = os.path.join(self.work, f"restored_{i}")
        cfg = self._write_config(
            mask_dump_config(self.inputs, dump, self.seed), f"dump_{i}.json")
        t0 = time.perf_counter()
        rc, out = self._cli(["dump", "--config", cfg])
        t1 = time.perf_counter()
        rc2, out2 = self._cli(["restore", "--input", dump, "--output", restored])
        t2 = time.perf_counter()
        files, data = data_files(dump)
        return {"op_s": t2 - t0, "dump_s": t1 - t0, "restore_s": t2 - t1,
                "rc": [rc, rc2], "stdout": [out, out2],
                "paths": [dump, restored], "out_bytes": dir_bytes(dump),
                "files_written": files, "bytes_written": data}

    def _check(self, con, s: dict) -> list[str]:
        bad = []
        dump, restored = s["paths"]
        dumped = {t: self._count(con, os.path.join(dump, t)) for t in TABLES}
        for t in TABLES:
            if dumped[t] != self.expected[t]:
                bad.append(f"{t}: dumped {dumped[t]} rows, "
                           f"DuckDB subset gives {self.expected[t]}")
        for c, p, fk, pk in REFERENCES:
            orphans = con.execute(
                f"SELECT count(*) FROM {_pq(os.path.join(dump, c))} "
                f"WHERE {fk} IS NOT NULL AND {fk} NOT IN "
                f"(SELECT {pk} FROM {_pq(os.path.join(dump, p))})"
            ).fetchone()[0]
            if orphans:
                bad.append(f"{c}.{fk}: {orphans} rows miss {p}.{pk}")
        for t, col in HASHED:
            n = con.execute(
                f"SELECT count(*) FROM {_pq(os.path.join(dump, t))} "
                f"WHERE NOT regexp_full_match({col}, '[0-9a-f]{{64}}')"
            ).fetchone()[0]
            if n:
                bad.append(f"{t}.{col}: {n} values are not 64-hex")
        self._stable(tuple(self._digest(con, os.path.join(dump, t))
                           for t in TABLES), bad, "dump")
        order = _last_json(s["stdout"][1]).get("order", [])
        pos = {t: k for k, t in enumerate(order)}
        if sorted(order) != sorted(TABLES):
            bad.append(f"restore order {order} is not the 8 tables")
        for c, p, _fk, _pk in REFERENCES:
            if c in pos and p in pos and pos[p] > pos[c]:
                bad.append(f"restore order puts {c} before its parent {p}")
        for t in TABLES:
            n = self._count(con, os.path.join(restored, t))
            if n != dumped[t]:
                bad.append(f"{t}: restored {n} rows, dumped {dumped[t]}")
        return bad


class ValidateWide(Workload):
    name = "validate_wide"
    rows_limit = 100

    def __init__(self, inputs, work, seed):
        super().__init__(inputs, work, seed)
        self.cfg = self._write_config(
            validate_wide_config(inputs, seed), "validate.json")

    def input_bytes(self):
        return sum(os.path.getsize(os.path.join(self.inputs, f"{t}.parquet"))
                   for t in TABLES)

    def input_rows(self):
        return sum(min(self.rows_limit, EXPECTED_ROWS[t]) for t in TABLES)

    def op(self, i: int) -> dict:
        t0 = time.perf_counter()
        rc, out = self._cli(["validate", "--config", self.cfg,
                           "--rows-limit", str(self.rows_limit)])
        t1 = time.perf_counter()
        # validate writes nothing to disk: its output is the report it
        # prints, so out_bytes here is the report's size
        return {"op_s": t1 - t0, "rc": [rc], "stdout": [out], "paths": [],
                "out_bytes": len(out.encode())}

    def check(self, s: dict) -> list[str]:
        if s["rc"] != [0]:
            return [f"exit code {s['rc']}"]
        # the report is the verb's whole output: no DuckDB needed
        rep = _last_json(s["stdout"][0])
        bad = [f"error warning: {w['msg']}" for w in rep["warnings"]
               if w["severity"] == "error"]
        for t in TABLES:
            want = min(self.rows_limit, EXPECTED_ROWS[t])
            got = rep["tables"].get(t, {}).get("rows_checked")
            if got != want:
                bad.append(f"{t}: rows_checked {got}, want {want}")
        return bad


class CorpusFineweb(Workload):
    name = "corpus_fineweb"
    python_workers = False

    def input_bytes(self):
        return os.path.getsize(os.path.join(self.inputs, "documents.parquet"))

    def input_rows(self):
        return EXPECTED_ROWS["documents"]

    def op(self, i: int) -> dict:
        out = os.path.join(self.work, f"shards_{i}")
        cfg = self._write_config(corpus_config(out, self.seed),
                                 f"corpus_{i}.json")
        t0 = time.perf_counter()
        rc, stdout = self._cli(["corpus", "--config", cfg,
                              "--sf-dir", self.inputs])
        t1 = time.perf_counter()
        return {"op_s": t1 - t0, "rc": [rc], "stdout": [stdout],
                "paths": [out], "out_bytes": dir_bytes(out)}

    def _shards(self, out: str) -> str:
        return f"read_parquet('{out}/**/*.parquet')"

    def _check(self, con, s: dict) -> list[str]:
        out = s["paths"][0]
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id) FROM {self._shards(out)}"
        ).fetchone()
        bad = []
        if n == 0:
            bad.append("no documents in the shards")
        if n != distinct:
            bad.append(f"{n - distinct} duplicate doc_id in the shards")
        s["docs_out"] = n
        digest = con.execute(
            f"SELECT sum(hash(doc_id, text)::HUGEINT) FROM {self._shards(out)}"
        ).fetchone()[0]
        self._stable((n, int(digest or 0)), bad, "shard")
        return bad


WORKLOADS = {w.name: w for w in (MaskDump, ValidateWide, CorpusFineweb)}


def check_input_rows(con: duckdb.DuckDBPyConnection, inputs: str) -> None:
    """Fail before timing when make_sf.py produced other sizes."""
    for t, want in EXPECTED_ROWS.items():
        got = con.execute(
            f"SELECT count(*) FROM {_pq(os.path.join(inputs, t + '.parquet'))}"
        ).fetchone()[0]
        if got != want:
            raise RuntimeError(f"input {t}: {got} rows, expected {want}")


