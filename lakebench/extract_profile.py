#!/usr/bin/env python3
"""Derive lakebench/profile.json from the read-only sf0.1 testdata.

The benchmark runs in a checkout that holds no testdata, so its seeded
generator works from this profile: the events table's daily rate, user
count and event-type mix, and the documents table's vocabulary and
token-length distribution. Re-run only when the testdata changes:

    python3 lakebench/extract_profile.py <sf0.1 dir> > lakebench/profile.json
"""
import json
import sys

import duckdb


def main(sf_dir):
    ev = f"{sf_dir}/events.parquet"
    docs = f"{sf_dir}/documents.parquet"
    q = lambda s: duckdb.sql(s).fetchall()
    (n_events, n_users, n_days, v_min, v_max), = q(
        f"select count(*), count(distinct user_id), "
        f"count(distinct cast(ts as date)), min(value), max(value) from '{ev}'")
    types = [t for (t,) in q(
        f"select event_type from '{ev}' group by 1 order by 1")]
    words = {}
    lengths = []
    for (text,) in q(f"select text from '{docs}' order by doc_id"):
        toks = text.split()
        lengths.append(len(toks))
        for w in toks:
            words[w] = words.get(w, 0) + 1
    lengths.sort()
    pct = [lengths[min(len(lengths) - 1, int(p * len(lengths) / 20))]
           for p in range(21)]
    print(json.dumps({
        "events": {"per_day": round(n_events / n_days), "users": n_users,
                   "event_types": types,
                   "value_min": v_min, "value_max": v_max},
        "documents": {"vocabulary": dict(sorted(words.items())),
                      "token_count_ventiles": pct},
    }, indent=1))


if __name__ == "__main__":
    main(sys.argv[1])
