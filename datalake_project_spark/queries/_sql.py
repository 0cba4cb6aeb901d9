"""DuckDB SQL fragments shared by the oracles of several query modules.

Each fragment is a CTE or clause spliced verbatim into an oracle string,
so the oracle DuckDB runs is the same text it would be written out.
"""

from __future__ import annotations

# Per document: its lower-cased [a-z0-9]+ word list.
WORDS = """
    words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents)"""

# Per document of >= 3 words: its distinct word-3-gram shingle list.
SHINGLES = """
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3)"""

# The opening of every shingle-set oracle: WITH words, sh.
WITH_SHINGLES = """
    WITH""" + WORDS + "," + SHINGLES

# Shingle-set Jaccard of the ``sh`` rows aliased a and b.
JACCARD = """len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE"""


def jaccard_pairs(threshold: float, scored: bool = False) -> str:
    """SELECT of the ``sh`` doc pairs a_id < b_id with Jaccard >=
    ``threshold``, plus the 4-dp ``jaccard`` column when ``scored``."""
    score = f",\n               ROUND({JACCARD}, 4) AS jaccard" if scored else ""
    return f"""
        SELECT a.doc_id AS a_id, b.doc_id AS b_id{score}
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE {JACCARD} >= {threshold}"""


# Transitive closure of the undirected ``pairs`` (a_id, b_id) graph;
# needs WITH RECURSIVE.
REACH = """
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u)"""

# Connected components of ``reach``: member id -> min-id representative.
COMP = """
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u)"""

# words -> shingles -> Jaccard >= 0.5 pairs -> closure: the near-dup
# cluster graph every resolution oracle starts from.
NEAR_DUP_REACH = ("""
    WITH RECURSIVE""" + WORDS + "," + SHINGLES + """,
    pairs AS (""" + jaccard_pairs(0.5) + ")," + REACH)
