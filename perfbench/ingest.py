"""Arrival-driven ingestion through ``make_ingestion(...).run()``.

A closed loop with one client. Set-up bootstraps a silver Parquet target
from a generated base table. Each arrival lands one JSON file whose rows
update existing ids and insert new ones, then runs a stream append into
bronze, a batch merge into silver and one read-back aggregate of silver.

Ids are unique within each arrival: the merge passes no dedup order to
``merge_upsert``, so a repeated id in one file leaves duplicate silver rows
(a known engine gap; Delta would raise instead).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from spans import Spans

BASE_ROWS = 500_000
ARRIVAL_ROWS = 5_000
WARM_ARRIVALS = 2
COLUMNS = ("id", "seq", "tag", "v")  # JSON inference orders fields by name


def make_arrivals(rng, base_rows: int, n_arrivals: int, arrival_rows: int) -> list[dict]:
    """Arrivals as column arrays; half the rows update, half insert.

    Updated ids are drawn without replacement from every id present before
    the arrival, so ids are unique within one arrival.
    """
    arrivals = []
    next_id = base_rows
    half = arrival_rows // 2
    for seq in range(1, n_arrivals + 1):
        updates = rng.choice(next_id, size=half, replace=False)
        inserts = np.arange(next_id, next_id + arrival_rows - half)
        next_id += arrival_rows - half
        ids = rng.permutation(np.concatenate([updates, inserts]))
        arrivals.append(
            {
                "id": ids.astype(np.int64),
                "seq": np.full(len(ids), seq, dtype=np.int64),
                "tag": _tags(rng, len(ids)),
                "v": rng.integers(0, 10**9, len(ids), dtype=np.int64),
            }
        )
    return arrivals


def _tags(rng, n: int) -> np.ndarray:
    return np.array([f"{x:08x}" for x in rng.integers(0, 2**32, n)], dtype=object)


def make_base(rng, rows: int) -> dict:
    return {
        "id": np.arange(rows, dtype=np.int64),
        "seq": np.zeros(rows, dtype=np.int64),
        "tag": _tags(rng, rows),
        "v": rng.integers(0, 10**9, rows, dtype=np.int64),
    }


def expected_silver(base: dict, arrivals: list[dict]) -> dict:
    """Last-write-wins rows after applying ``arrivals`` in order, by id.

    Ids are dense (0..n-1), so row ``i`` of every column holds id ``i``.
    """
    n = max([len(base["id"])] + [int(a["id"].max()) + 1 for a in arrivals])
    out = {}
    for col in COLUMNS:
        dtype = object if col == "tag" else np.int64
        out[col] = np.empty(n, dtype=dtype)
        out[col][: len(base["id"])] = base[col]
    for a in arrivals:
        for col in COLUMNS:
            out[col][a["id"]] = a[col]
    return out


def silver_mismatch(expected: dict, pdf) -> str | None:
    """Compare a pandas frame of silver rows with ``expected``; None if equal."""
    n = len(expected["id"])
    if len(pdf) != n:
        return f"silver has {len(pdf)} rows, expected {n}"
    got = pdf.sort_values("id", kind="stable").reset_index(drop=True)
    if not np.array_equal(got["id"].to_numpy(np.int64), expected["id"]):
        return "silver ids differ from the expected key set"
    for col in COLUMNS[1:]:
        if not np.array_equal(got[col].to_numpy(expected[col].dtype), expected[col]):
            bad = int(np.flatnonzero(got[col].to_numpy(expected[col].dtype) != expected[col])[0])
            return f"silver {col} differs at id {bad}"
    return None


def _write_json(path: str, cols: dict) -> int:
    with open(path, "w") as f:
        for row in zip(*(cols[c].tolist() for c in COLUMNS)):
            f.write(json.dumps(dict(zip(COLUMNS, row))) + "\n")
    return os.path.getsize(path)


def _data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        if "_spark_metadata" in d:
            continue
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


class IngestWorkload:
    """One op = one arrival: stream append, batch merge, read-back."""

    name = "ingest_arrivals"
    top_spans = ("ingestion.stream", "ingestion.merge", "ingestion.read_back")

    def __init__(self, pass_s: float):
        self.pass_s = pass_s  # one arrival on a 4-core box, for sizing

    def make_inputs(self, root: str, cache: str, seed: int, passes: int) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        work = os.path.join(cache, "ingest")
        shutil.rmtree(work, ignore_errors=True)
        self.dirs = {k: os.path.join(work, k) for k in ("landing", "bronze", "silver", "ckpt", "arrivals")}
        os.makedirs(self.dirs["arrivals"])
        base = make_base(rng, BASE_ROWS)
        self.base_path = os.path.join(work, "base.parquet")
        pq.write_table(pa.table({c: base[c] for c in COLUMNS}), self.base_path)
        self.arrivals = make_arrivals(rng, BASE_ROWS, WARM_ARRIVALS + passes, ARRIVAL_ROWS)
        self.files, self.bytes = [], []
        for seq, a in enumerate(self.arrivals, start=1):
            path = os.path.join(self.dirs["arrivals"], f"arrival-{seq:04d}.json")
            self.bytes.append(_write_json(path, a))
            self.files.append(path)
        # read-back expectation after each arrival: (rows, sum(v), max(seq))
        self.readback = []
        rows, total = BASE_ROWS, int(base["v"].sum())
        current_v = base["v"].copy()
        for seq, a in enumerate(self.arrivals, start=1):
            new = a["id"] >= len(current_v)
            current_v = np.concatenate([current_v, np.zeros(int(new.sum()), np.int64)])
            total += int(a["v"].sum()) - int(current_v[a["id"]].sum())
            current_v[a["id"]] = a["v"]
            rows += int(new.sum())
            self.readback.append((rows, total, seq))
        self.expected = expected_silver(base, self.arrivals)
        self.landed = 0
        return {"base_rows": BASE_ROWS, "arrival_rows": ARRIVAL_ROWS}

    def _cfg(self, **kw):
        from python_tool_setup_spark.config import IngestionConfig

        return IngestionConfig(**kw)

    def prepare(self, spark) -> None:
        """Bootstrap silver from the base table through batch ingestion."""
        from python_tool_setup_spark.ingestion import make_ingestion

        os.makedirs(self.dirs["landing"])
        make_ingestion(
            spark,
            self._cfg(
                source_path=self.base_path,
                source_format="parquet",
                target_path=self.dirs["silver"],
                write_mode="overwrite",
            ),
        ).run()

    def _arrive(self, spark, spans, group: str) -> bool:
        """Land the next arrival file and ingest it; True if read-back matches."""
        from pyspark.sql import functions as F

        from python_tool_setup_spark.ingestion import make_ingestion

        sc = spark.sparkContext
        src = self.files[self.landed]
        landed = os.path.join(self.dirs["landing"], os.path.basename(src))
        shutil.copyfile(src, landed)
        expect = self.readback[self.landed]
        self.landed += 1
        sc.setJobGroup(f"{group}.stream", "stream")
        with spans.span("ingestion.stream"):
            make_ingestion(
                spark,
                self._cfg(
                    source_path=self.dirs["landing"],
                    source_format="json",
                    target_path=self.dirs["bronze"],
                    ingest_mode="stream",
                    checkpoint_path=self.dirs["ckpt"],
                ),
            ).run()
        sc.setJobGroup(f"{group}.merge", "merge")
        with spans.span("ingestion.merge"):
            make_ingestion(
                spark,
                self._cfg(
                    source_path=landed,
                    source_format="json",
                    target_path=self.dirs["silver"],
                    write_mode="merge",
                    merge_keys=["id"],
                ),
            ).run()
        sc.setJobGroup(f"{group}.read_back", "read_back")
        with spans.span("ingestion.read_back"):
            row = (
                spark.read.parquet(self.dirs["silver"])
                .agg(F.count("*"), F.sum("v"), F.max("seq"))
                .first()
            )
        return tuple(row) == expect

    def warm(self, spark) -> None:
        for i in range(WARM_ARRIVALS):
            if not self._arrive(spark, Spans(), f"warm.{i}"):
                raise RuntimeError("warm-up arrival read back wrong silver totals")
        self.stored_before = self._stored()
        self.files_written = self.rewrite_bytes = 0

    def ops(self, passes: int) -> list[int]:
        return list(range(WARM_ARRIVALS, WARM_ARRIVALS + passes))

    def run_op(self, spark, group: str, op: int, spans, trace: bool) -> bool:
        return self._arrive(spark, spans, group)

    def _stored(self) -> dict[str, tuple[int, int]]:
        out = {}
        for k in ("bronze", "silver"):
            files = _data_files(self.dirs[k])
            out[k] = (len(files), sum(os.path.getsize(f) for f in files))
        return out

    def after_op(self, spark, i: int, spans) -> None:
        """Count the files and bytes this arrival wrote (traced runs only).

        The merge rewrites silver whole, so every silver file is new.
        """
        now = self._stored()
        self.files_written += now["bronze"][0] - self.stored_before["bronze"][0]
        self.files_written += now["silver"][0]
        self.rewrite_bytes += now["silver"][1]
        self.stored_before = now

    def check(self, spark, ops) -> set[int]:
        """Silver equals the last-write-wins rows; bronze holds every arrival row.

        A mismatch fails every op: the final tables cannot say which arrival
        went wrong. Returns the indices of the failed ops.
        """
        spark.sparkContext.setJobGroup("check", "check")
        pdf = spark.read.parquet(self.dirs["silver"]).toPandas()
        self.mismatch = silver_mismatch(self.expected, pdf)
        bronze = spark.read.parquet(self.dirs["bronze"]).count()
        want = sum(len(a["id"]) for a in self.arrivals[: self.landed])
        if self.mismatch is None and bronze != want:
            self.mismatch = f"bronze has {bronze} rows, expected {want}"
        return set() if self.mismatch is None else set(range(len(ops)))

    def op_rows(self, op) -> int:
        return len(self.arrivals[op]["id"])

    def layer_metrics(self) -> dict[str, float]:
        stored = self._stored()
        arrival_bytes = sum(self.bytes[: self.landed])
        timed_bytes = sum(self.bytes[WARM_ARRIVALS : self.landed])
        return {
            "ingestion.files_written": self.files_written,
            "ingestion.rewrite_bytes_per_input_byte": self.rewrite_bytes / timed_bytes,
            "ingestion.stored_bytes_per_input_byte": (
                stored["bronze"][1] + stored["silver"][1]
            )
            / arrival_bytes,
        }
