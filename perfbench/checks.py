"""Output checks, run after the timed window. Each returns a list of
failure strings; an empty list means the check passed."""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PARITY_RTOL = 1e-9  # GdLocalParitySpec's bound for local vs distributed GD
PARITY_PAIRS = (("curve:lr_local", "curve:lr_dist"),
                ("curve:nn_local_adam", "curve:nn_dist_adam"))


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle(fixture, results_dir, checks):
    """Compare each oracle-checked step's output with DuckDB's answer to the
    step's `SparkEntry.oracleSql` on the same fixture."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(fixture, t + '.parquet')}')")
    failures = []
    for step, c in checks.items():
        if "error" in c:
            failures.append(f"{step}: writing the output failed: {c['error']}")
            continue
        files = glob.glob(os.path.join(results_dir, step, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files \
            else pd.DataFrame()
        try:
            exp = con.sql(c["oracle_sql"]).df()
        except Exception as e:  # a broken oracle is a failed check too
            failures.append(f"{step}: oracle SQL failed: {e}")
            continue
        g, e = _canon(got), _canon(exp)
        if list(g.columns) != list(e.columns) or len(g) != len(e):
            failures.append(f"{step}: shape {list(g.columns)}x{len(g)} vs "
                            f"oracle {list(e.columns)}x{len(e)}")
            continue
        kinds = [col for col in g.columns
                 if (g[col].dtype.kind in "iuf" or e[col].dtype.kind in "iuf")
                 and g[col].dtype.kind != e[col].dtype.kind]
        if kinds:
            failures.append(f"{step}: numeric kind differs in {kinds}")
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=False,
                                          rtol=1e-9, atol=1e-9)
        except AssertionError as ex:
            failures.append(f"{step}: values differ: "
                            f"{str(ex).splitlines()[0]}")
    return failures


def rows(records, checked):
    """Every step that returned a frame and has no oracle returned rows."""
    return [f"{r['step']}: returned no rows" for r in records
            if r.get("rows", -1) == 0 and r["step"] not in checked]


def classifiers(results, majority, margin):
    """Each classifier beats the majority-class rate by the planted margin."""
    out = []
    for k, v in results.items():
        if k.startswith("classifier:") and v["accuracy"] < majority + margin:
            out.append(f"{k[11:]}: accuracy {v['accuracy']:.4f} < majority "
                       f"{majority:.4f} + {margin}")
    return out


def parity(results):
    """Local and distributed GD cost curves agree within PARITY_RTOL."""
    out = []
    for local, dist in PARITY_PAIRS:
        a, b = results.get(local), results.get(dist)
        if a is None or b is None:
            out.append(f"{local} vs {dist}: curve missing")
            continue
        n = min(len(a), len(b))
        if n == 0 or len(a) != len(b):
            out.append(f"{local} vs {dist}: lengths {len(a)} / {len(b)}")
            continue
        for i, (x, y) in enumerate(zip(a[:n], b[:n])):
            if abs(x - y) > PARITY_RTOL * max(1.0, abs(y)):
                out.append(f"{local} vs {dist}: iteration {i}: {x!r} vs {y!r}")
                break
    return out
