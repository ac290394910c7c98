#!/usr/bin/env python3
"""Same drift card: compare the t36 drift cards of two drift stores.

    python3 tools/drift_card_same.py A_dir B_dir

A and B are drift-store directories written by
`Drift.foldDocsIntoStore` (in an `ingest_loop` run:
`perfbench/.work/ingest_loop-s<seed>-t<trace>/.../ingest/pass0/drift`),
say from a parent commit and a change run on the same seed. Each card
is computed in DuckDB with the t36 oracle's SQL (`TextQueries`,
"t36_source_drift") over the store's summed token rows: the bucket
side is derived per token as `fingerprint(w) % 4096`, summed in
integers, which is how `Drift.cardFromStore` reads a store. A store
that also holds `kind='b'` bucket rows (the older two-kind layout) is
checked against that derivation too. Prints both cards and exits 1 on
any difference (or an inconsistent bucket side), 0 when they match.
"""
import sys

import duckdb

# t36's oracle from `sb` on, fed by the store's token table `sw`
CARD_SQL = """
WITH sw AS MATERIALIZED (SELECT source, k AS w, CAST(SUM(cnt) AS BIGINT) AS c
    FROM store WHERE kind = 't' GROUP BY 1, 2),
 sb AS MATERIALIZED (SELECT source,
    list_reduce(list_transform(range(1, length(w) + 1),
        i -> ascii(substr(w, CAST(i AS INT), 1))::BIGINT),
      (x, y) -> (x * 31 + y) % 1000000007) % 4096 AS b,
    CAST(SUM(c) AS BIGINT) AS cnt
  FROM sw GROUP BY 1, 2),
 st AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM sb GROUP BY source),
 cb AS (SELECT b, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM sb GROUP BY b),
 ct AS (SELECT CAST(SUM(ccnt) AS BIGINT) AS ctot FROM cb),
 grid AS (SELECT st.source, st.tot,
    abs(COALESCE(sb.cnt, 0) / st.tot - cb.ccnt / ct.ctot) AS dp
  FROM st CROSS JOIN cb CROSS JOIN ct
  LEFT JOIN sb ON sb.source = st.source AND sb.b = cb.b),
 tv AS (SELECT source, tot AS n_tokens,
    CAST(SUM(CAST(CAST(dp AS VARCHAR) AS DECIMAL(28,16))) AS DOUBLE)
      * 0.5 AS tv
  FROM grid GROUP BY source, tot),
 cw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cc FROM sw GROUP BY w),
 ranked AS (SELECT sw.source, sw.w,
    CAST(CAST(sw.c + 1 AS HUGEINT) * (ct.ctot + 4096) * 1000000
      // (CAST(cw.cc + 1 AS HUGEINT) * (st.tot + 4096))
      AS BIGINT) AS ppm
  FROM sw JOIN cw USING (w) JOIN st USING (source) CROSS JOIN ct),
 top AS (SELECT source, w AS top_token, ppm AS top_token_ppm,
    ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY ppm DESC, w DESC) AS rn FROM ranked)
SELECT tv.source, n_tokens, tv, top_token, top_token_ppm
FROM tv JOIN (SELECT * FROM top WHERE rn = 1) t USING (source)
ORDER BY tv.source
"""

# stored bucket rows that disagree with the bucket side derived above
BUCKET_DIFF_SQL = """
WITH stored AS (SELECT source, CAST(k AS BIGINT) AS b,
    CAST(SUM(cnt) AS BIGINT) AS cnt FROM store WHERE kind = 'b' GROUP BY 1, 2),
 sw AS (SELECT source, k AS w, SUM(cnt) AS c FROM store WHERE kind = 't'
    GROUP BY 1, 2),
 derived AS (SELECT source,
    list_reduce(list_transform(range(1, length(w) + 1),
        i -> ascii(substr(w, CAST(i AS INT), 1))::BIGINT),
      (x, y) -> (x * 31 + y) % 1000000007) % 4096 AS b,
    CAST(SUM(c) AS BIGINT) AS cnt
  FROM sw GROUP BY 1, 2)
SELECT count(*) FROM stored FULL JOIN derived USING (source, b)
WHERE stored.cnt IS DISTINCT FROM derived.cnt
"""


def card(store_dir):
    """(card rows, bucket rows, inconsistent bucket rows or None)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW store AS SELECT * FROM "
                f"read_parquet('{store_dir}/*.parquet')")
    rows = con.execute(CARD_SQL).fetchall()
    n_b = con.execute("SELECT count(*) FROM store WHERE kind = 'b'").fetchone()[0]
    bad = con.execute(BUCKET_DIFF_SQL).fetchone()[0] if n_b else None
    return rows, n_b, bad


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    diffs = []
    cards = []
    for side, d in zip("AB", argv[1:]):
        rows, n_b, bad = card(d)
        cards.append(rows)
        print(f"{side}: {d}: {len(rows)} sources, "
              f"{n_b} stored bucket rows" + ("" if bad is None else f" ({bad} inconsistent)"))
        for r in rows:
            print(f"  {r}")
        if bad:
            diffs.append(f"{side}: {bad} stored bucket rows differ from the token-derived side")
    if cards[0] != cards[1]:
        sa, sb = set(cards[0]), set(cards[1])
        diffs += [f"only in A: {r}" for r in sorted(sa - sb, key=str)]
        diffs += [f"only in B: {r}" for r in sorted(sb - sa, key=str)]
        if not (sa - sb or sb - sa):
            diffs.append("same rows in a different order")
    if diffs:
        print(f"\nDIFFERENT CARDS ({len(diffs)}):")
        for d in diffs:
            print("  " + d)
        return 1
    print(f"\nsame card: {len(cards[0])} sources")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
