"""Checks of a benchmark run's outputs.

Every timed operation writes its full result to parquet. A registry row is
compared hash-exact with its DuckDB reference; a BASELINE shape is compared
row by row with a float tolerance (its sums are plain doubles); the ingest
workload's operations are checked against properties the method must have.
An operation whose output fails its check counts as failed; unless it is a
known fault of the program, the run is also not correct.
"""
import numpy as np
import pandas as pd

from refs import SHAPES, SHAPE_PROJECTIONS, SHAPE_ROWS, canon, frame_hash

QUALITY_FAULT = (
    "TextOps.qualityFeatures rounds quality to 6 places and the corpus-prep "
    "quality stage filters on the rounded value, so docs scoring in "
    "[0.4499995, 0.45) pass a 0.45 floor the oracle applies to the raw score")

RTOL = 1e-9
ATOL = 1e-9


class Verdict:
    def __init__(self):
        self.correct = True
        self.failed = 0
        self.notes = []

    def fail(self, op: str, executions: int, why: str, known: dict):
        self.failed += executions
        if op in known:
            self.notes.append(f"known fault  {op}: {why}")
        else:
            self.correct = False
            self.notes.append(f"FAIL         {op}: {why}")


def read(con, path: str, projection: str = "SELECT *") -> pd.DataFrame:
    return con.execute(f"{projection} FROM read_parquet('{path}/*.parquet')").df()


def exact_match(ours: pd.DataFrame, ref: dict):
    """Same rows, same columns, same frame hash as the reference summary."""
    c = canon(ours)
    if list(c.columns) != ref["columns"]:
        return False, f"columns {list(c.columns)} != {ref['columns']}"
    if len(c) != ref["rows"]:
        return False, f"{len(c)} rows != {ref['rows']}"
    if frame_hash(c) != ref["hash"]:
        return False, "row values differ (frame hash)"
    return True, ""


def _normalize(col: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert(None)
        return col.astype("datetime64[ns]").astype("int64").astype(str)
    if pd.api.types.is_float_dtype(col):
        return col.astype("float64")
    if pd.api.types.is_integer_dtype(col):
        return col.astype("Int64").astype(str)
    return col.astype(str)


def approx_match(ours: pd.DataFrame, ref: pd.DataFrame):
    """Same rows as the reference, doubles equal within RTOL/ATOL."""
    if set(ours.columns) != set(ref.columns):
        return False, f"columns {sorted(ours.columns)} != {sorted(ref.columns)}"
    if len(ours) != len(ref):
        return False, f"{len(ours)} rows != {len(ref)}"
    cols = sorted(ref.columns)
    a = pd.DataFrame({c: _normalize(ours[c]) for c in cols})
    b = pd.DataFrame({c: _normalize(ref[c]) for c in cols})
    floats = [c for c in cols if a[c].dtype == "float64" or b[c].dtype == "float64"]
    for c in floats:
        a[c], b[c] = a[c].astype("float64"), b[c].astype("float64")
    keys = [c for c in cols if c not in floats] + floats
    if keys:
        a = a.sort_values(keys, kind="mergesort").reset_index(drop=True)
        b = b.sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if c in floats:
            ok = np.isclose(a[c].to_numpy(), b[c].to_numpy(), rtol=RTOL, atol=ATOL,
                            equal_nan=True)
        else:
            ok = (a[c] == b[c]).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return False, f"column {c} row {i}: {a[c][i]!r} != {b[c][i]!r}"
    return True, ""


def _last_outputs(execs):
    """op -> (executions, its last execution)."""
    out = {}
    for e in execs:
        n, _ = out.get(e["op"], (0, None))
        out[e["op"]] = (n + 1, e)
    return out


def check_sas(res, refs, known, v: Verdict):
    con = refs.con()
    oracles = res["oracles"]
    for op, (n, e) in _last_outputs(res["execs"]).items():
        if e["err"]:
            v.fail(op, n, e["err"], known)
            continue
        path = e["outputs"][0]
        if op in SHAPES:
            ok, why = approx_match(read(con, path, SHAPE_PROJECTIONS.get(op, "SELECT *")),
                                   refs.rows(SHAPES[op]))
        else:
            name = SHAPE_ROWS.get(op, op)
            if name not in oracles:
                ok, why = False, "no reference"
            else:
                ok, why = exact_match(read(con, path), refs.exact(oracles[name]))
        if not ok:
            v.fail(op, n, why, known)


def _ids(df: pd.DataFrame, col: str = "id") -> set:
    return set(int(x) for x in df[col].tolist())


def _batch_reps(con, ids) -> set:
    """The probe's representative of each probed doc: the smallest id among
    the probed docs with the same normalized text (a few corpus docs share
    their text with another)."""
    return _ids(con.execute(
        "SELECT min(doc_id) AS id FROM documents WHERE doc_id IN "
        f"({','.join(str(int(i)) for i in ids)}) "
        r"GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))").df())


def check_ingest(res, refs, known, v: Verdict):
    """Per batch: every probed corpus doc finds an indexed doc with the same
    text (Jaccard 1); every
    planted exact copy is dropped and every planted fresh doc kept; the
    index's rep count grows by exactly the kept count; the append ran; the
    co-located join equals DuckDB's join over base and appended slices.
    Per cycle: compaction leaves one file per bucket and the join still
    equals the reference; the corpus-prep row equals its oracle."""
    con = refs.con()
    by = {(e["round"], e["op"]): e for e in res["execs"]}

    def output(rnd, op, i=0):
        e = by.get((rnd, op))
        if e is None:
            raise KeyError(f"{op} did not run in round {rnd}")
        if e["err"]:
            raise RuntimeError(e["err"])
        return read(con, e["outputs"][i])

    def run_check(op, rnd, fn):
        try:
            why = fn()
        except (KeyError, RuntimeError) as ex:
            why = str(ex)
        if why:
            v.fail(op, 1, why, known)

    for b in res["info"]["batches"]:
        rnd, k = b["cycle"], b["k"]
        for p, ids in enumerate(b["probe_ids"]):
            def probe(p=p, ids=ids):
                pairs = output(rnd, f"probe{p}_b{k}")
                exact = _ids(pairs[pairs["jaccard"] >= 1.0], "brep")
                missing = _batch_reps(con, ids) - exact
                return f"{len(missing)} probed corpus docs not found" if missing else ""
            run_check(f"probe{p}_b{k}", rnd, probe)

        def prep(b=b):
            kept, dropped = _ids(output(rnd, f"prep_b{k}", 0)), _ids(output(rnd, f"prep_b{k}", 1))
            copies, fresh = set(b["copy_ids"]), set(b["fresh_ids"])
            if copies & kept or copies - dropped:
                return f"{len(copies & kept)} planted copies kept"
            if fresh - kept:
                return f"{len(fresh - kept)} planted fresh docs not kept"
            grown = b["reps_after"] - b["reps_before"]
            if grown != len(kept):
                return f"index grew by {grown} reps for {len(kept)} kept docs"
            return ""
        run_check(f"prep_b{k}", rnd, prep)
        run_check(f"append_b{k}", rnd,
                  lambda b=b: "" if b.get("append_ran") else "appendOnce did not run")
        run_check(f"join_b{k}", rnd, lambda b=b: exact_match(
            output(rnd, f"join_b{k}"), refs.exact(b["join_sql"]))[1])

    stages = res["oracles"]["llm_corpus_prep_stages"]
    for c in res["info"]["cycles"]:
        rnd = c["cycle"]
        run_check("llm_corpus_prep_stages", rnd, lambda: exact_match(
            output(rnd, "llm_corpus_prep_stages"), refs.exact(stages))[1])
        run_check("compact", rnd, lambda c=c: "" if (
            c.get("facts_compacted") and c.get("index_compacted")
            and c.get("max_files_after") == 1) else f"not compacted: {c}")
        run_check("join_final", rnd, lambda c=c: exact_match(
            output(rnd, "join_final"), refs.exact(c["join_sql"]))[1])


def check_run(workload: str, res, refs, known: dict) -> Verdict:
    v = Verdict()
    {"sas_etl": check_sas, "ingest_probe": check_ingest}[workload](res, refs, known, v)
    return v
