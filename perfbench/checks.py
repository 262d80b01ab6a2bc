"""Output checks for the benchmark. Every check fails closed: a missing
file, an unreadable row or a mismatch is an error, never a skip.

- `check_summary_csv` compares a `MiwCli` CSV output file with the
  tallies the log generator made: group count, the sum of `logs` against
  the kept (non-comment, non-blank) lines, and the sums of the numeric
  fields.
- `check_gate` compares each gate query's parquet dump with the query's
  DuckDB oracle (`SparkEntry.oracleSql`) over the same tables: same
  columns, same row count, same rows (exact, in any order).
"""
import csv
import glob
import math
import os


def _expect(errors, what, got, want):
    if got != want:
        errors.append(f"{what}: got {got!r}, expected {want!r}")


def check_summary_csv(path, tally):
    """Checks the miw_summary CSV (header + one row per group)."""
    errors = []
    try:
        with open(path, newline="") as f:
            rows = list(csv.DictReader(f))
        ids = [r["id"] for r in rows]
        logs = [int(r["logs"]) for r in rows]
        taken = sum(int(r["time-taken"]) for r in rows)
        sc = sum(float(r["sc-bytes"]) * n for r, n in zip(rows, logs))
    except (OSError, KeyError, ValueError, TypeError, csv.Error) as e:
        return [f"unreadable output {path}: {e}"]
    _expect(errors, "groups", len(rows), tally["groups"])
    _expect(errors, "distinct ids", len(set(ids)), len(rows))
    _expect(errors, "sum(logs)", sum(logs), tally["data_lines"])
    _expect(errors, "sum(time-taken)", taken, tally["sum_time_taken"])
    # means are printed with 6 significant digits, so the rebuilt sum
    # carries a relative error below 5e-6
    if not math.isclose(sc, tally["sum_sc_bytes"], rel_tol=1e-5):
        errors.append(f"sum(mean(sc-bytes) * logs): got {sc}, expected {tally['sum_sc_bytes']}")
    return errors


def _sort_key(row):
    return tuple((v is None, v if v is not None else 0) for v in row)


def _same(a, b):
    if a == b:
        return True
    try:
        return math.isnan(a) and math.isnan(b)
    except TypeError:
        return False


def check_gate(dump_dir, tables_dir, oracle_sql, queries):
    """Returns {query: error or None}."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(dump_dir, q, "*.parquet")))
        if not files:
            out[q] = "no parquet output"
            continue
        if q not in oracle_sql:
            out[q] = "no oracle SQL"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            exp = con.sql(oracle_sql[q])
            gcols, ecols = sorted(got.columns), sorted(exp.columns)
            if gcols != ecols:
                out[q] = f"columns {gcols} != {ecols}"
                continue
            sel = ", ".join(f'"{c}"' for c in gcols)
            g = sorted(got.project(sel).fetchall(), key=_sort_key)
            e = sorted(exp.project(sel).fetchall(), key=_sort_key)
        except Exception as ex:  # an oracle or read error is a failed check
            out[q] = f"{type(ex).__name__}: {ex}"
            continue
        if len(g) != len(e):
            out[q] = f"rows {len(g)} != {len(e)}"
            continue
        bad = next(((i, c) for i, (gr, er) in enumerate(zip(g, e))
                    for c, (a, b) in enumerate(zip(gr, er)) if not _same(a, b)), None)
        out[q] = None if bad is None else (
            f"row {bad[0]} col {gcols[bad[1]]}: spark={g[bad[0]][bad[1]]!r} "
            f"oracle={e[bad[0]][bad[1]]!r}")
    return out
