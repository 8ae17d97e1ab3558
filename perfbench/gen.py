"""Seeded input generator for the graft benchmark.

Writes one workload's inputs as parquet in the fixture schemas, plus
`expected.json` (the output checks, computed here with numpy and DuckDB,
independently of graft) and `props.json` (the input properties each
workload's cost depends on).

    python3 perfbench/gen.py --workload attribution_10x --seed 1 --out DIR

The same seed gives byte-identical inputs and expectations.
"""
import argparse
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
CHANNELS = ["paid_search", "email", "social", "direct", "display"]


def write(table, path, row_group_size):
    pq.write_table(table, path, row_group_size=row_group_size)


def duck():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


# ── attribution_10x ─────────────────────────────────────────────────
# The sf0.1 events fixture's shape at 0.6 of its rows: 60 k events over
# 30 days, 900 users drawn uniformly (the fixture's events per user),
# 20% purchases, 5 session channels. A conversion's journey is every
# earlier session of its user, so journeys average about half of a
# user's ~53 sessions. (10x, 1 M events, takes 29 s per iteration on
# local[4], too long for the benchmark's run budget.)
ATTR = dict(events=60_000, users=900, purchase_share=0.2, days=30)


def gen_attribution(seed, out):
    rng = np.random.default_rng(seed)
    n, users = ATTR["events"], ATTR["users"]
    ts = EPOCH_2024_US + rng.integers(0, ATTR["days"] * DAY_US, n)
    user = rng.integers(0, users, n)
    purchase = rng.random(n) < ATTR["purchase_share"]
    chan = rng.integers(0, len(CHANNELS), n)
    etype = np.where(purchase, "purchase", np.array(CHANNELS)[chan])
    value = np.round(rng.random(n) * 100.0, 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })
    write(events, os.path.join(out, "events.parquet"), 25_000)

    # The checks follow the fixture's attribution mapping (FIXTURES.md):
    # purchases are conversions, every other event is a session, a session
    # costs its value unless event_id % 4 = 0.
    con = duck()
    con.register("events", events)
    row = con.execute("""
        WITH c AS (SELECT event_id AS conv_id, user_id, ts, value AS revenue
                   FROM events WHERE event_type = 'purchase'),
             s AS (SELECT event_id AS session_id, user_id, ts, event_type AS channel,
                          CASE WHEN event_id % 4 <> 0 THEN value ELSE 0 END AS cost
                   FROM events WHERE event_type <> 'purchase'),
             j AS (SELECT c.conv_id, c.revenue, s.channel, s.cost,
                          strftime(s.ts, '%Y-%m-%d') AS date
                   FROM c JOIN s ON c.user_id = s.user_id AND s.ts <= c.ts),
             per_conv AS (SELECT conv_id, any_value(revenue) AS revenue FROM j GROUP BY conv_id)
        SELECT (SELECT count(*) FROM j),
               (SELECT count(*) FROM per_conv),
               (SELECT sum(revenue) FROM per_conv),
               (SELECT sum(cost) FROM j),
               (SELECT count(*) FROM (SELECT DISTINCT channel, date FROM j)),
               (SELECT count(*) FROM c),
               (SELECT count(*) FROM s)
    """).fetchone()
    journey_rows, convs, revenue, cost, report_rows, n_conv, n_sess = row
    expected = {
        "journey_rows": journey_rows,
        "attributed_conversions": convs,
        "report_rows": report_rows,
        "report_cost": cost,
        "report_ihc": float(convs),
        "report_ihc_revenue": revenue,
    }
    props = dict(ATTR, seed=seed, channels=len(CHANNELS), conversions=n_conv,
                 sessions=n_sess, journey_rows=journey_rows,
                 sessions_per_conversion=round(journey_rows / max(convs, 1), 2))
    return expected, props


# ── corpus_curation ─────────────────────────────────────────────────
# 3 k documents over a Zipfian vocabulary of 5 k words (not the
# fixture's 31, on which exact dedup is quadratic). A recorded share of
# documents sit in planted near-duplicate groups: copies of one base
# text with a few tokens replaced, which keeps their 3-shingle Jaccard
# well above the 0.5 threshold. 3 k x 64 embeddings around 200 cluster
# centres, with planted near-copies (cosine about 0.995). (50 k
# documents and 20 k embeddings take 96 s per iteration on local[4].)
CORPUS = dict(documents=3_000, vocabulary=5_000, zipf_s=1.1, min_tokens=30,
              max_tokens=120, planted_share=0.10, planted_group_max=4,
              embeddings=3_000, dim=64, clusters=200, planted_vec_share=0.05,
              query_mod=50, k=10)


def zipf_words(rng, vocab, s, size):
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -s
    return rng.choice(vocab, size=size, p=p / p.sum())


def gen_corpus(seed, out):
    c = CORPUS
    rng = np.random.default_rng(seed)
    words = np.array([f"w{i:04d}x" for i in range(c["vocabulary"])])
    n_docs = c["documents"]
    lengths = rng.integers(c["min_tokens"], c["max_tokens"] + 1, n_docs)
    flat = zipf_words(rng, c["vocabulary"], c["zipf_s"], int(lengths.sum()))
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    toks = [flat[offsets[i]:offsets[i + 1]] for i in range(n_docs)]

    # planted groups: member docs copy a base doc and replace 2-3 tokens
    order = rng.permutation(n_docs)
    planted_target = int(c["planted_share"] * n_docs)
    groups, used, pos = [], 0, 0
    while used < planted_target:
        size = int(rng.integers(2, c["planted_group_max"] + 1))
        members = sorted(int(d) for d in order[pos:pos + size])
        pos += size
        used += size
        base = toks[members[0]]
        for m in members[1:]:
            t = base.copy()
            edits = rng.choice(len(t), size=int(rng.integers(2, 4)), replace=False)
            t[edits] = zipf_words(rng, c["vocabulary"], c["zipf_s"], len(edits))
            toks[m] = t
        groups.append(members)
    texts = [" ".join(words[t]) for t in toks]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    write(docs, os.path.join(out, "documents.parquet"), 1_000)

    n_vec, dim = c["embeddings"], c["dim"]
    centres = rng.normal(size=(c["clusters"], dim))
    label = rng.integers(0, c["clusters"], n_vec)
    emb = centres[label] + rng.normal(scale=0.8, size=(n_vec, dim))
    n_copies = int(c["planted_vec_share"] * n_vec)
    copies = rng.choice(n_vec, size=2 * n_copies, replace=False)
    src, dst = copies[:n_copies], copies[n_copies:]
    emb[dst] = emb[src] + rng.normal(scale=0.1, size=(n_copies, dim))
    label[dst] = label[src]
    emb = emb.astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    write(embeddings, os.path.join(out, "embeddings.parquet"), 1_000)

    # exact neighbours of the query set (vec_id % query_mod = 0), self
    # excluded, ties broken by vec_id: the reference top-k recall uses
    x = emb.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    q_ids = np.arange(0, n_vec, c["query_mod"])
    sims = x[q_ids] @ x.T
    sims[np.arange(len(q_ids)), q_ids] = -np.inf
    topk = {}
    for qi, q in enumerate(q_ids):
        best = np.lexsort((np.arange(n_vec), -sims[qi]))[:c["k"]]
        topk[str(int(q))] = [int(b) for b in best]
    planted_pairs = sorted({(int(min(a, b)), int(max(a, b))) for a, b in zip(src, dst)})
    pair_cos = np.einsum("ij,ij->i", x[[a for a, _ in planted_pairs]],
                         x[[b for _, b in planted_pairs]])

    expected = {
        "planted_groups": groups,
        "max_survivors": n_docs - sum(len(g) - 1 for g in groups),
        "planted_vec_pairs": [list(p) for p in planted_pairs],
        "topk": topk,
    }
    props = dict(CORPUS, seed=seed, planted_groups=len(groups),
                 planted_docs=sum(len(g) for g in groups),
                 planted_pair_min_cosine=round(float(pair_cos.min()), 4),
                 queries=len(q_ids), tokens=int(lengths.sum()))
    return expected, props


# ── table_upkeep ────────────────────────────────────────────────────
# A daily-batch stream into one table partitioned by `day`. Each day
# appends a batch, upserts corrections to yesterday and today through
# mergeOnce, drops the day that falls out of a 2-day retention, and
# compacts and checkpoints the table, so from day 2 on every day runs the
# same five commits. Every commit is followed by one read, which rotates
# between a one-day readWhere, a readAt time-travel read (two commits
# back, or to the last checkpoint, as far as the log is retained) and a
# SQL aggregate; each read is checked against the model's digest (rows,
# sum id, sum qty, sum amount).
UPKEEP = dict(days=60, append_rows=1_000, merge_rows=200, merge_insert_share=0.25,
              merge_lookback_days=1, retention_days=2,
              read_range_days=1, sql_range_days=2, time_travel_back=2)


def day_str(d):
    return str(np.datetime64("2024-01-01") + np.timedelta64(int(d), "D"))


def digest(rows):
    if not rows:
        return [0, 0, 0, 0]
    a = np.array(list(rows.values()), dtype=np.int64)  # (id, qty, amount)
    return [int(len(a)), int(a[:, 0].sum()), int(a[:, 1].sum()), int(a[:, 2].sum())]


def gen_upkeep(seed, out):
    u = UPKEEP
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    table = {}  # id -> (day, id, qty, amount)
    history = []  # full-table digest after each commit
    ops = []
    next_id = 0
    reads = ["read_where", "read_at", "sql"]

    def rows_of(pred=lambda r: True):
        return {k: (v[1], v[2], v[3]) for k, v in table.items() if pred(v)}

    def commit(op):
        history.append(digest(rows_of()))
        if op["op"] == "checkpoint":
            last_checkpoint[0] = len(history) - 1
        op["expect"] = history[-1]
        ops.append(op)
        kind = reads[day_commits[0] % len(reads)]
        day_commits[0] += 1
        if kind == "read_where":
            lo = max(0, day - u["read_range_days"] + 1)
            r = {"op": "read_where", "lo": day_str(lo), "hi": day_str(day),
                 "expect": digest(rows_of(lambda v: lo <= v[0] <= day))}
        elif kind == "read_at":
            # the log is retained back to the last checkpoint only
            back = min(u["time_travel_back"], len(history) - 1 - last_checkpoint[0])
            r = {"op": "read_at", "back": back, "expect": history[-1 - back]}
        else:
            lo = max(0, day - u["sql_range_days"] + 1)
            r = {"op": "sql", "lo": day_str(lo), "expect": digest(rows_of(lambda v: v[0] >= lo))}
        ops.append(r)

    def batch(name, ids, days):
        n = len(ids)
        qty = rng.integers(1, 50, n)
        amount = rng.integers(100, 100_000, n)
        t = pa.table({
            "id": pa.array(np.asarray(ids, dtype=np.int64)),
            "day": pa.array([day_str(d) for d in days]),
            "qty": pa.array(qty.astype(np.int64)),
            "amount": pa.array(amount.astype(np.int64)),
        })
        pq.write_table(t, os.path.join(out, "batches", name))
        for i, d, q, a in zip(ids, days, qty, amount):
            table[int(i)] = (int(d), int(i), int(q), int(a))
        return "batches/" + name

    day_commits = [0]  # the n-th commit of a day is followed by read kind n % 3
    last_checkpoint = [0]  # index in history of the last checkpoint
    for day in range(u["days"]):
        day_commits[0] = 0
        ids = np.arange(next_id, next_id + u["append_rows"])
        next_id += u["append_rows"]
        f = batch(f"append-{day:04d}.parquet", ids, [day] * len(ids))
        commit({"op": "append", "day": day, "file": f})

        n_ins = int(u["merge_rows"] * u["merge_insert_share"])
        live = [k for k, v in table.items() if v[0] >= day - u["merge_lookback_days"]]
        upd = rng.choice(live, size=u["merge_rows"] - n_ins, replace=False)
        ins = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        ids = np.concatenate([upd, ins])
        days = [table[int(i)][0] for i in upd] + [day] * n_ins
        f = batch(f"merge-{day:04d}.parquet", ids, days)
        commit({"op": "merge", "day": day, "file": f, "batch": day})

        if day >= u["retention_days"]:
            gone = day - u["retention_days"]
            for k in [k for k, v in table.items() if v[0] == gone]:
                del table[k]
            commit({"op": "delete", "day": day_str(gone)})
        commit({"op": "compact"})
        commit({"op": "checkpoint"})

    expected = {"ops": ops}
    n_commits = sum(1 for o in ops if o["op"] not in reads)
    props = dict(UPKEEP, seed=seed, commits=n_commits, reads=len(ops) - n_commits,
                 read_write_ratio=round((len(ops) - n_commits) / n_commits, 3),
                 live_rows_steady=digest(rows_of())[0])
    return expected, props


def gen_attribution_curation(seed, out):
    """Both inputs in one directory; their keys do not overlap but `seed`."""
    exp_a, props_a = gen_attribution(seed, out)
    exp_c, props_c = gen_corpus(seed, out)
    return dict(exp_a, **exp_c), dict(props_a, **props_c)


GENERATORS = {
    "attribution_10x": gen_attribution,
    "corpus_curation": gen_corpus,
    "attribution_curation": gen_attribution_curation,
    "table_upkeep": gen_upkeep,
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    expected, props = GENERATORS[a.workload](a.seed, a.out)
    with open(os.path.join(a.out, "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(os.path.join(a.out, "props.json"), "w") as f:
        json.dump(props, f, indent=1)


if __name__ == "__main__":
    main()
