"""curate_corpus output check: each registry row's result against its
DuckDB oracle SQL over the same generated corpus. Same comparison as
the engine's oracle gate: columns sorted by name, rows sorted, frames
equal."""

import json
import os


def check_curate(run_dir, run):
    """One check per registry row; [] when the run dumped no results."""
    import duckdb

    base = os.path.join(run_dir, "tmp", "wl-curate_corpus")
    out = os.path.join(base, "oracle")
    path = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(path):
        return [{"name": "oracle_dump", "ok": False, "detail": "no dump"}]
    with open(path) as f:
        dump = json.load(f)
    con = duckdb.connect()
    for tbl in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')"
                    % (tbl, dump["corpus"], tbl))
    checks = []
    for name, sql in sorted(dump["sql"].items()):
        try:
            o = con.execute(sql).fetchdf()
            s = con.execute("SELECT * FROM read_parquet('%s/%s/*.parquet')"
                            % (out, name)).fetchdf()
        except Exception as e:  # a failing oracle is a failed check
            checks.append({"name": name + "#oracle", "ok": False, "detail": str(e)[:200]})
            continue
        cols = sorted(o.columns)
        if cols != sorted(s.columns):
            checks.append({"name": name + "#oracle", "ok": False,
                           "detail": "columns %s vs %s" % (cols, sorted(s.columns))})
            continue
        o = o[cols].sort_values(by=cols).reset_index(drop=True)
        s = s[cols].sort_values(by=cols).reset_index(drop=True)
        ok = o.equals(s)
        checks.append({"name": name + "#oracle", "ok": ok,
                       "detail": "" if ok else "oracle %d rows, engine %d rows" % (len(o), len(s))})
    con.close()
    return checks
