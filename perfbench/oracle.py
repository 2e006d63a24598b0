"""Expected outputs computed with DuckDB over the generated parquet,
and the per-call checks that compare a job's outputs against them.

Every ``check_*`` returns a list of mismatch strings; an empty list
means the call's outputs are correct.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

HELD_BACK = (13, 15)
MAX_RATE = 0.05  # rules.RuleSet default gate bar
NEARDUP_THRESHOLD = 0.7  # dedup.minhash_lsh_pairs default

_SPAN_COUNTS = """
WITH ex AS (
  SELECT part_key, spans[i] AS s,
         CASE WHEN i > 1 THEN spans[i - 1]."offset" END AS prev_offset
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(spans))) AS i)
)
SELECT part_key,
  count(*) AS n_spans,
  count(*) FILTER (WHERE s.kind IS NULL OR s.kind NOT IN ('text', 'media'))
    AS "R-SPAN-KIND",
  count(*) FILTER (WHERE (s.kind = 'text' AND (s.text IS NULL OR s.media_ref IS NOT NULL))
                      OR (s.kind = 'media' AND (s.media_ref IS NULL OR s.text IS NOT NULL)))
    AS "R-SPAN-MUTEX",
  count(*) FILTER (WHERE prev_offset IS NOT NULL AND s."offset" <= prev_offset)
    AS "R-SPAN-MONO",
  count(*) FILTER (WHERE s.media_ref IS NOT NULL AND s.media_ref NOT IN
    (SELECT 'media-' || lpad(CAST(range AS VARCHAR), 5, '0') FROM range(500)))
    AS "R-REF-MEDIA"
FROM ex GROUP BY part_key
"""

_DOC_COUNTS = """
SELECT part_key, count(*) AS n_docs,
  count(*) FILTER (WHERE doc_id IS NULL OR length(trim(doc_id)) = 0)
    AS "R-DOC-ID-NOTNULL",
  count(*) FILTER (WHERE spans IS NULL OR len(spans) = 0)
    AS "R-DOC-SPANS-NONEMPTY"
FROM docs GROUP BY part_key
"""

SPAN_RULES = ("R-SPAN-KIND", "R-SPAN-MUTEX", "R-SPAN-MONO")
DOC_RULES = ("R-DOC-ID-NOTNULL", "R-DOC-SPANS-NONEMPTY")


def _files(path: str) -> str:
    return os.path.join(path, "*.parquet")


def validate_expected(path: str) -> dict:
    """Per-partition rule counts and duplicate doc_ids of the spans
    table at ``path``, for the bulk scope (held-back keys excluded) and
    the full table."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{_files(path)}')")
    spans = {r[0]: r[1:] for r in con.execute(_SPAN_COUNTS).fetchall()}
    docs = {r[0]: r[1:] for r in con.execute(_DOC_COUNTS).fetchall()}
    per_part = {}
    for pk, (n_docs, *doc_v) in docs.items():
        n_spans, *span_v = spans.get(pk, (0, 0, 0, 0, 0))
        per_part[str(pk)] = {
            "n_docs": n_docs, "n_spans": n_spans,
            "violations": dict(zip((*SPAN_RULES, "R-REF-MEDIA", *DOC_RULES),
                                   (*span_v, *doc_v))),
        }

    def dups(where: str) -> list:
        return [list(r) for r in con.execute(
            f"SELECT doc_id, count(*) FROM docs {where} GROUP BY doc_id "
            "HAVING count(*) > 1 ORDER BY doc_id").fetchall()]

    held = ", ".join(str(k) for k in HELD_BACK)
    out = {"per_part": per_part,
           "dups_bulk": dups(f"WHERE part_key NOT IN ({held})"),
           "dups_full": dups("")}
    con.close()
    return out


def _verdict_rows(per_part: dict, keys) -> tuple[dict, dict, int]:
    """((part_key, rule) -> (n_checked, n_violations), rule -> (n_checked,
    n_violations), n_docs) over the given partitions."""
    by_part, total, n_docs = {}, Counter(), 0
    for pk in keys:
        p = per_part[pk]
        n_docs += p["n_docs"]
        for rule in SPAN_RULES + DOC_RULES:
            n_checked = p["n_spans"] if rule in SPAN_RULES else p["n_docs"]
            by_part[(int(pk), rule)] = (n_checked, p["violations"][rule])
            total[(rule, 0)] += n_checked
            total[(rule, 1)] += p["violations"][rule]
    glob_rows = {r: (total[(r, 0)], total[(r, 1)]) for r in SPAN_RULES + DOC_RULES}
    return by_part, glob_rows, n_docs


def _passes(n_checked: int, n_violations: int) -> bool:
    return (n_violations / n_checked if n_checked else 0.0) <= MAX_RATE


def check_validate(exp: dict, result: dict, output: str, resumed: bool) -> list[str]:
    """Compare one validate call against the oracle. A fresh call covers
    the bulk scope; a resumed call must validate exactly the held-back
    partitions and leave outputs equal to a from-scratch full run."""
    errs = []
    all_keys = sorted(exp["per_part"], key=int)
    held = [k for k in all_keys if int(k) in HELD_BACK]
    bulk = [k for k in all_keys if int(k) not in HELD_BACK]
    scope = all_keys if resumed else bulk
    by_part, glob_rows, _ = _verdict_rows(exp["per_part"], scope)
    n_validated = _verdict_rows(exp["per_part"], held if resumed else bulk)[2]
    if result["n_docs"] != n_validated:
        errs.append(f"n_docs {result['n_docs']} != {n_validated}")
    gate = all(_passes(*v) for v in glob_rows.values())
    if result["gate_pass"] != gate:
        errs.append(f"gate_pass {result['gate_pass']} != {gate}")
    if not all(d["pass"] for d in result["drift"]):
        errs.append("drift failed against a baseline frozen from this table")

    con = duckdb.connect()
    got = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        "SELECT rule_id, n_checked, n_violations, pass FROM read_parquet("
        f"'{output}/verdicts/*.parquet')").fetchall()}
    want = {r: (*v, _passes(*v)) for r, v in glob_rows.items()}
    if got != want:
        errs.append(f"verdicts {got} != {want}")
    got_part = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(
        "SELECT part_key, rule_id, n_checked, n_violations FROM read_parquet("
        f"'{output}/verdicts_by_partition/*.parquet')").fetchall()}
    if got_part != by_part:
        errs.append(f"verdicts_by_partition differ on "
                    f"{sorted(set(got_part.items()) ^ set(by_part.items()))[:5]}")
    viol = dict(con.execute(
        "SELECT rule_id, count(*) FROM read_parquet("
        f"'{output}/violations/*/*/*.parquet', hive_partitioning=1) "
        "GROUP BY rule_id").fetchall())
    want_v = Counter()
    for pk in scope:
        for rule, n in exp["per_part"][pk]["violations"].items():
            want_v[rule] += n
    dups = exp["dups_full" if resumed else "dups_bulk"]
    want_v["R-DOC-UNIQUE"] = len(dups)
    want_v = {r: n for r, n in want_v.items() if n}
    if viol != want_v:
        errs.append(f"violation counts {viol} != {want_v}")
    got_dups = sorted(
        [r[0], int(r[1].split("=")[1])] for r in con.execute(
            "SELECT doc_id, observed FROM read_parquet("
            f"'{output}/violations/rule_id=R-DOC-UNIQUE/*/*.parquet')").fetchall())
    if got_dups != dups:
        errs.append(f"R-DOC-UNIQUE rows differ ({len(got_dups)} vs {len(dups)})")
    con.close()
    return errs


def prepare_expected(path: str) -> dict:
    """ExactSubstr cut intervals (the program's own DuckDB oracle SQL,
    driver_queries.SQL_STRIP_DUP_WINDOWS), exact-dup and near-dup drop
    counts of the corpus at ``path``."""
    from intent_classifier_service_spark.driver_queries import SQL_STRIP_DUP_WINDOWS

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{_files(path)}')")
    # the oracle's CTE chain up to its cut list; the text rebuild that
    # follows it in the SQL (drop the cut token positions, re-join the
    # original-case tokens with single spaces, '' when nothing is left)
    # runs here in Python, where it is a few times cheaper
    head, _, _ = SQL_STRIP_DUP_WINDOWS.partition(", otoks AS")
    cuts = sorted(list(r) for r in con.execute(
        head + " SELECT doc_id, s, e FROM cut").fetchall())
    by_doc: dict = {}
    for doc_id, s, e in cuts:
        by_doc.setdefault(doc_id, []).append((s, e))
    rows = con.execute(
        "SELECT doc_id, text FROM documents WHERE list_contains(?, doc_id)",
        [list(by_doc)]).fetchall()
    rebuilt = [
        (doc_id, " ".join(t for i, t in enumerate(text.split())
                          if not any(s <= i < e for s, e in by_doc[doc_id])))
        for doc_id, text in rows]
    con.execute("CREATE TABLE rebuilt (doc_id BIGINT, text VARCHAR)")
    if rebuilt:
        con.executemany("INSERT INTO rebuilt VALUES (?, ?)", rebuilt)
    con.execute("""
      CREATE TABLE stripped AS
      SELECT d.doc_id, coalesce(r.text, d.text) AS text
      FROM documents d LEFT JOIN rebuilt r USING (doc_id)""")
    n_in = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    # dedup.exact_dedup: min id per lower/trim/whitespace-collapsed text
    con.execute("""
      CREATE TABLE survivors AS
      SELECT min(doc_id) AS doc_id, norm FROM (
        SELECT doc_id, trim(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm
        FROM stripped) GROUP BY norm""")
    n_exact = con.execute("SELECT count(*) FROM survivors").fetchone()[0]
    # dedup.shingles: distinct word 3-grams, whole text when shorter
    con.execute("""
      CREATE TABLE sh AS
      SELECT DISTINCT doc_id, CASE WHEN len(t) < 3 THEN norm
                                   ELSE array_to_string(t[i:i+2], ' ') END AS g
      FROM (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM survivors),
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i)""")
    pairs = con.execute("""
      WITH n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT a, b, inter / (na.c + nb.c - inter) AS j
      FROM common JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b
    """).fetchall()
    con.close()
    edges = [(a, b) for a, b, j in pairs if j >= NEARDUP_THRESHOLD]
    # candidate pairs whose Jaccard sits near the threshold could go
    # either way under MinHash estimation; the corpus must have none
    ambiguous = sum(1 for _, _, j in pairs if 0.5 <= j < 0.9)
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    n_neardup = sum(1 for x in parent if find(x) != x)
    return {
        "n_input_docs": n_in,
        "cuts": cuts,
        "n_substring_cut_docs": len({c[0] for c in cuts}),
        "n_exact_dup_dropped": n_in - n_exact,
        "n_neardup_dropped": n_neardup,
        "n_ambiguous_pairs": ambiguous,
    }


# summary keys that are timings, not outputs
_TIMING_KEYS = ("stage_secs", "wall_sec")


def check_prepare(exp: dict, summary: dict, output: str,
                  first_summary: dict | None) -> list[str]:
    errs = []
    if exp["n_ambiguous_pairs"]:
        errs.append(f"{exp['n_ambiguous_pairs']} near-threshold pairs in the corpus")
    for key in ("n_input_docs", "n_exact_dup_dropped", "n_neardup_dropped",
                "n_substring_cut_docs"):
        if summary.get(key) != exp[key]:
            errs.append(f"{key} {summary.get(key)} != {exp[key]}")
    if summary.get("n_substring_cut_intervals") != len(exp["cuts"]):
        errs.append(f"n_substring_cut_intervals {summary.get('n_substring_cut_intervals')}"
                    f" != {len(exp['cuts'])}")
    con = duckdb.connect()
    cuts = sorted(list(r) for r in con.execute(
        "SELECT doc_id, start_token, end_token FROM read_parquet("
        f"'{output}/substring_cuts/*.parquet')").fetchall())
    con.close()
    if cuts != exp["cuts"]:
        errs.append(f"cut intervals differ ({len(cuts)} vs {len(exp['cuts'])})")
    train = summary.get("split_tokens", {}).get("train")
    if summary.get("packed_tokens") != train:
        errs.append(f"packed_tokens {summary.get('packed_tokens')} != train tokens {train}")
    if first_summary is not None:
        a = {k: v for k, v in summary.items() if k not in _TIMING_KEYS}
        b = {k: v for k, v in first_summary.items() if k not in _TIMING_KEYS}
        if a != b:
            errs.append("summary differs from the run's first call")
    return errs

