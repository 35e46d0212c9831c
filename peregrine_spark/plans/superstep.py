"""Generic iterative superstep driver with checkpoint / lineage / resume.

The Spark analog of the reference's per-pattern barrier loop
(/root/reference/core/Peregrine.hh:1131-1150: reset task counter, release
workers, wait at the barrier): here each superstep is one bounded-shuffle
Spark action over the state DataFrame, and the "barrier" is the state
materialization between supersteps.

Why materialize every superstep (SURVEY.md §7 hard parts):
- iterative DataFrame plans grow without bound → write state to parquet and
  read it back, which truncates lineage AND is the resume snapshot — the
  cost pays twice.
- the materializing action is the superstep's ONLY action. Every value
  the driver reads after it — the algorithm's observed columns (its
  convergence delta, PageRank's next dangling mass) and, with a
  checkpoint dir, the lineage — is a ``pyspark.sql.Observation`` on that
  action, computed by the tasks that write the state: no job re-reads
  the state it just wrote. Columns named ``_*`` (the previous value a
  delta compares against) can be observed but are not written.
- the lineage is one row per superstep for the whole state (algo,
  superstep, partition_id -1, rows = |V|, checksum = Σ xxhash64 over the
  written columns, delta, wall_ms), appended to a metrics table so a
  resumed run can prove it continued from exactly the state it wrote.
  The checksum is an order-insensitive sum, so it does not depend on how
  the state is split into tasks or files. The driver writes the row
  itself: one parquet file per superstep under ``<dir>/metrics/``
  (pyarrow), with no Spark job and no Python worker. The checkpoint dir
  must therefore be visible to the driver, as ``_latest.json`` already
  requires.
- the state is read back (and resumed) with its known schema, so no
  schema-inference job runs per superstep.

With no checkpoint dir (tests/bench), ``localCheckpoint`` truncates lineage
in memory, observed columns are read the same way and no lineage is kept.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LATEST_FILE = "_latest.json"
# the column types of <dir>/metrics/ (Spark: string, int, int, long,
# string, double, double)
METRICS_SCHEMA = pa.schema(
    [
        ("algo", pa.string()),
        ("superstep", pa.int32()),
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("checksum", pa.string()),
        ("delta", pa.float64()),
        ("wall_ms", pa.float64()),
    ]
)
# the key under which Spark stores a parquet file's Spark schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int  # supersteps executed across all runs (incl. resumed-from)
    converged: bool
    deltas: list[float] = field(default_factory=list)
    metrics: list[dict] = field(default_factory=list)


class SuperstepDriver:
    def __init__(
        self,
        spark: SparkSession,
        algo: str,
        checkpoint_dir: str | None = None,
        max_iter: int = 100,
        tol: float | None = None,
        input_fingerprint: str | None = None,
    ):
        # The lineage is kept exactly when there is a checkpoint dir: it is
        # part of the checkpoint contract.
        self.spark = spark
        self.algo = algo
        self.dir = checkpoint_dir
        self.max_iter = max_iter
        self.tol = tol
        # identifies the input dataset (e.g. its path); a resume refuses to
        # continue a checkpoint written for a different algo or input
        self.input_fingerprint = input_fingerprint

    # -- checkpoint layout: <dir>/state/step=<k>/, <dir>/metrics/, _latest.json
    def _state_path(self, k: int) -> str:
        return os.path.join(self.dir, "state", f"step={k}")

    def _load_latest(self) -> tuple[int, DataFrame] | None:
        if not self.dir:
            return None
        latest = os.path.join(self.dir, LATEST_FILE)
        if not os.path.exists(latest):
            return None
        with open(latest) as f:
            meta = json.load(f)
        if meta.get("algo") != self.algo:
            raise ValueError(
                f"checkpoint dir {self.dir} holds algo={meta.get('algo')!r}, "
                f"refusing to resume {self.algo!r} from it"
            )
        ckpt_fp = meta.get("input_fingerprint")
        if (
            ckpt_fp is not None
            and self.input_fingerprint is not None
            and ckpt_fp != self.input_fingerprint
        ):
            raise ValueError(
                f"checkpoint dir {self.dir} was written for input "
                f"{ckpt_fp!r}, refusing to resume on {self.input_fingerprint!r}"
            )
        k = meta["superstep"]
        return k, self._read_state(self._state_path(k))

    def _read_state(self, path: str, schema: StructType | None = None) -> DataFrame:
        """Read a state snapshot without a schema-inference job: with the
        schema it was written with, else the Spark schema in the footer
        of one of its files."""
        if schema is None:
            files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
            meta = (pq.read_schema(files[0]).metadata or {}) if files else {}
            if SPARK_SCHEMA_KEY in meta:
                schema = StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
        reader = self.spark.read
        return (reader.schema(schema) if schema else reader).parquet(path)

    def _materialize(
        self, state: DataFrame, k: int, observed: Sequence[Column] = ()
    ) -> tuple[DataFrame, dict]:
        """Write (or locally checkpoint) the state's public columns in ONE
        action that also computes `observed` and, with a checkpoint dir,
        the lineage (rows, checksum); returns the materialized state and
        the observed row."""
        cols = [c for c in state.columns if not c.startswith("_")]
        metrics = list(observed)
        if self.dir:
            dec = "decimal(38,0)"
            metrics += [
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.xxhash64(*cols).cast(dec)), F.lit(0).cast(dec)
                ).alias("checksum"),
            ]
        obs = Observation() if metrics else None
        if obs is not None:
            state = state.observe(obs, *metrics)
        state = state.select(*cols)
        if self.dir:
            path = self._state_path(k)
            state.write.mode("overwrite").parquet(path)
            out = self._read_state(path, state.schema)
        else:
            out = state.localCheckpoint(eager=True)
        return out, (obs.get if obs is not None else {})

    def _record(
        self, k: int, seen: dict, delta: float | None, wall_ms: float
    ) -> dict:
        rec = {
            "algo": self.algo,
            "superstep": k,
            "partition_id": -1,
            "rows": seen.get("rows", -1),
            "checksum": str(seen["checksum"]) if "checksum" in seen else "",
            "delta": delta,
            "wall_ms": wall_ms,
        }
        if self.dir:
            self._write_metrics(k, rec)
            with open(os.path.join(self.dir, LATEST_FILE), "w") as f:
                json.dump(
                    {
                        "superstep": k,
                        "algo": self.algo,
                        "input_fingerprint": self.input_fingerprint,
                    },
                    f,
                )
        return rec

    def _write_metrics(self, k: int, rec: dict) -> None:
        """Append one superstep's row to <dir>/metrics/ as one parquet
        file, written under a hidden name and renamed into place so a
        reader never sees a partial file."""
        mdir = os.path.join(self.dir, "metrics")
        os.makedirs(mdir, exist_ok=True)
        table = pa.Table.from_pylist([rec], schema=METRICS_SCHEMA)
        name = f"superstep-{k:06d}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(mdir, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(mdir, name))

    def run(
        self,
        init_state: Callable[[], DataFrame],
        step_fn: Callable[[DataFrame, int], DataFrame],
        observed: Sequence[Column] = (),
        delta: Callable[[dict], float] | None = None,
        resume: bool = True,
    ) -> SuperstepResult:
        """Iterate ``state ← step_fn(state, k)`` until the delta falls
        below tol or max_iter supersteps ran. ``observed`` are aggregate
        columns over a stepped state, computed while it materializes;
        ``delta`` maps their row to the superstep's delta. No ``delta``
        means no convergence check (fixed-iteration semantics, e.g. label
        propagation).

        resume=True + an existing checkpoint dir continues from the last
        written superstep (mid-iteration resume per the north rule).
        """
        start_k = 0
        resumed = self._load_latest() if resume else None
        if resumed is not None:
            start_k, state = resumed
        else:
            state, seen = self._materialize(init_state(), 0)
            self._record(0, seen, None, 0.0)

        deltas: list[float] = []
        all_metrics: list[dict] = []
        converged = False
        k = start_k
        t0 = time.time()
        while k < self.max_iter:
            k += 1
            prev = state
            state, seen = self._materialize(step_fn(prev, k), k, observed)
            d = delta(seen) if delta else None
            wall_ms = (time.time() - t0) * 1000.0
            if self.dir is None:
                prev.unpersist()
            all_metrics.append(self._record(k, seen, d, wall_ms))
            t0 = time.time()
            if d is not None:
                deltas.append(d)
                if self.tol is not None and d < self.tol:
                    converged = True
                    break
        return SuperstepResult(state, k, converged, deltas, all_metrics)
