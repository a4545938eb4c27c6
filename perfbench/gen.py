"""Seeded inputs for the denorm_stream workload.

Lefts replay `events` (event_id, user_id, event_type, value) under fresh
event ids, keeping the real foreign-key skew (~1,500 users). Rights are
the `customer` rows: an initial load, then an update wave in which each
update re-emits every left stored for that customer.

Layout written to `out`:
  backlog/rights/NNNNN.json   phase 1: the initial customer load
  backlog/lefts/NNNNN.json    phase 1: replayed events
  schedule.tsv                phase 2: `offset_ns TAB L|R TAB json`, the
                              json without its closing brace (the
                              generator thread appends `due_ns`)
  manifest.json               sizes, rates and a digest of the above

Ordering rule. The join's per-batch dedup lets one emission per left
key per micro-batch through, so a left and a LATER update of its
customer that share a batch would leave the left's stale emission as
its last. Phase 1 therefore holds no updates (the initial load's
sequence numbers precede every left), and phase 2 never schedules an
update of customer c within `gap_s` after a left of c or within `gap_s`
of another update of c. A micro-batch spans at most
max_files × tick of arrivals, kept well below `gap_s`.
"""
import hashlib
import json
import os
import random

import pyarrow.parquet as pq

LEFT_ID_BASE = 1_000_000_000


def _read(data_dir, name, cols):
    t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"), columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _json(d):
    return json.dumps(d, separators=(",", ":"))


def plan(data_dir, seed, seconds, left_rate, update_rate, backlog_lefts, gap_s):
    """The whole input as Python values: (rights, lefts, schedule).

    rights/lefts are the phase-1 rows (dicts carrying `due_ns`);
    schedule is [(offset_ns, side, row dict without due_ns)], sorted.
    """
    rng = random.Random(seed)
    events = [e for e in _read(data_dir, "events",
                               ["event_id", "user_id", "event_type", "value"])
              if e[1] is not None]
    customers = _read(data_dir, "customer",
                      ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"])
    rng.shuffle(events)
    rng.shuffle(customers)
    tie = iter(range(1, 1 << 62))
    fresh = iter(range(LEFT_ID_BASE, 1 << 62))
    cycle = iter(events * (1 + (backlog_lefts + int(seconds * left_rate)) // len(events)))

    def left():
        _, user, etype, value = next(cycle)
        return {"event_id": next(fresh), "user_id": user, "event_type": etype,
                "value": value, "tie": next(tie)}

    def right(c):
        return {"c_custkey": c[0], "c_name": c[1], "c_nationkey": c[2],
                "c_acctbal": c[3], "c_mktsegment": c[4], "tie": next(tie)}

    # phase 1: sequence numbers 1.. — the initial load precedes all lefts
    rights = [dict(right(c), due_ns=i + 1) for i, c in enumerate(customers)]
    lefts = [dict(left(), due_ns=len(rights) + i + 1) for i in range(backlog_lefts)]

    # phase 2: lefts at a fixed rate, then updates placed by the gap rule
    schedule = []
    last_left = {}
    n_lefts = int(seconds * left_rate)
    for i in range(n_lefts):
        off = i * 1_000_000_000 // left_rate
        row = left()
        last_left.setdefault(row["user_id"], []).append(off)
        schedule.append((off, "L", row))
    by_key = {c[0]: c for c in customers}
    users = sorted({r["user_id"] for r in lefts} & by_key.keys())
    gap = int(gap_s * 1_000_000_000)
    updated = {}
    segments = sorted({c[4] for c in customers})
    for j in range(int(seconds * update_rate)):
        off = j * 1_000_000_000 // update_rate + 1
        for _ in range(1000):
            c = rng.choice(users)
            if any(off - gap <= o < off for o in last_left.get(c, ())):
                continue
            if any(abs(off - o) < gap for o in updated.get(c, ())):
                continue
            break
        else:
            continue
        updated.setdefault(c, []).append(off)
        k, name, nation, _, seg = by_key[c]
        new = (k, name, nation, round(rng.uniform(-999.99, 9999.99), 2),
               segments[(segments.index(seg) + 1 + rng.randrange(len(segments) - 1))
                        % len(segments)])
        by_key[c] = new
        schedule.append((off, "R", right(new)))
    schedule.sort(key=lambda s: (s[0], s[2]["tie"]))
    return rights, lefts, schedule


def write(out, rights, lefts, schedule, rows_per_file, meta):
    """Renders `plan`'s output into the layout above; returns the manifest."""
    digest = hashlib.sha256()
    for side, rows in (("rights", rights), ("lefts", lefts)):
        d = os.path.join(out, "backlog", side)
        os.makedirs(d, exist_ok=True)
        for n, i in enumerate(range(0, len(rows), rows_per_file)):
            text = "".join(_json(r) + "\n" for r in rows[i:i + rows_per_file])
            digest.update(text.encode())
            with open(os.path.join(d, f"{n:05d}.json"), "w") as f:
                f.write(text)
    lines = "".join(f"{off}\t{side}\t{_json(row)[:-1]}\n" for off, side, row in schedule)
    digest.update(lines.encode())
    with open(os.path.join(out, "schedule.tsv"), "w") as f:
        f.write(lines)
    manifest = dict(meta, backlog_rights=len(rights), backlog_lefts=len(lefts),
                    schedule_lefts=sum(1 for s in schedule if s[1] == "L"),
                    schedule_updates=sum(1 for s in schedule if s[1] == "R"),
                    digest=digest.hexdigest())
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
