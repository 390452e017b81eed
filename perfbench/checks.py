"""Output checks. The crawl workload is checked against the site
generator's own truth; the query workload against each query's DuckDB
oracle on the same generated tables, compared with the repository's
``tools/verify_local.compare``. Each checker also runs once against a
deliberately wrong expectation and must reject it."""

from __future__ import annotations

import copy
import hashlib
import json
import os

from tools.verify_local import _canon, compare


def json_safe(v):
    """A canonical cell (``_canon``) in a form JSON round-trips."""
    v = _canon(v)
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, tuple):
        return [json_safe(x) for x in v]
    return v


def _sorted(rows) -> list:
    return sorted(([json_safe(x) for x in r] for r in rows), key=lambda r: json.dumps(r, default=str))


# --- crawl_ingest ---------------------------------------------------------------
def crawl_problems(result: dict, truth: dict) -> dict[str, list[str]]:
    """Problems per operation kind: ``round`` (new rows, store rows,
    final store contents) and ``page_load`` (the four gold panels)."""
    out = {"round": [], "page_load": []}
    for rec in result["rounds"]:
        r, exp = rec["round"], truth["rounds"][rec["round"]]
        where = f"round {r}"
        res = rec["result"]
        if res is None:
            continue  # the operation already counted as failed
        if res["new_rows"] != exp["new_rows"] or res["store_rows"] != exp["store_rows"]:
            out["round"].append(
                f"{where}: got new/store rows {res['new_rows']}/{res['store_rows']}, "
                f"expected {exp['new_rows']}/{exp['store_rows']}")
        for panel in ("word_topk", "source_distribution", "timeline", "recent"):
            if _sorted(rec["panels"].get(panel, [])) != _sorted(exp[panel]):
                out["page_load"].append(f"{where}: panel {panel} differs from the site truth")
    if _sorted(result["final_rows"]) != _sorted(truth["final_rows"]):
        out["round"].append("final store rows differ from the site truth")
    return out


def crawl_self_test(result: dict, truth: dict) -> bool:
    """The checker must reject a wrong truth: one round's new-row count
    off by one, one panel row altered."""
    bad = copy.deepcopy(truth)
    bad["rounds"][0]["new_rows"] += 1
    wrong_count = crawl_problems(result, bad)["round"]
    bad = copy.deepcopy(truth)
    bad["rounds"][-1]["word_topk"][0][1] += 1
    wrong_panel = crawl_problems(result, bad)["page_load"]
    return bool(wrong_count) and bool(wrong_panel)


# --- query workloads --------------------------------------------------------------
def oracle_answers(names, sqls: dict[str, str], data_dir: str, cache_dir: str, key: str) -> dict:
    """DuckDB answers for ``names`` on the tables in ``data_dir``, cached
    under ``cache_dir`` per input ``key`` and oracle text."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    answers, con = {}, None
    for q in names:
        h = hashlib.sha1((key + q + sqls[q]).encode()).hexdigest()[:16]
        path = f"{cache_dir}/{q}-{h}.json"
        if os.path.exists(path):
            with open(path) as fh:
                answers[q] = json.load(fh)
            continue
        if con is None:
            con = duckdb.connect()
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
        pdf = con.sql(sqls[q]).df()
        answers[q] = {
            "cols": list(pdf.columns),
            "rows": [[json_safe(x) for x in r] for r in pdf.itertuples(index=False, name=None)],
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(answers[q], fh)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return answers


def query_problems(q: str, got: dict, expected: dict) -> list[str]:
    return compare(q, got["cols"], got["rows"], expected["cols"], expected["rows"])


def query_self_test(q: str, got: dict, expected: dict) -> bool:
    """The checker must reject a wrong oracle answer: one row dropped or,
    for an empty answer, one row added."""
    bad = copy.deepcopy(expected)
    if bad["rows"]:
        bad["rows"].pop()
    else:
        bad["rows"].append([0] * len(bad["cols"]))
    return bool(query_problems(q, got, bad))
