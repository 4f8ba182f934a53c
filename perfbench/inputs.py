"""Seeded inputs of every workload. The same seed gives the same inputs;
the engine sees only what these functions return."""
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))

TPCH = ["q%02d" % i for i in range(1, 23)]
TPCDS = ["ds_q%02d" % i for i in range(1, 100)]

# The queries one olap_cold run measures: every TPC-H query would not fit
# a run, so a fixed sample of 20 does (the fewest that still leave ten
# queries above the median). It holds the TPC-DS queries whose shared
# subtrees ROADMAP item 4 wants reused (ds_q01/11/23/30/32/81/92, which
# persist through CacheBook today), TPC-H queries from across the suite
# and TPC-DS queries from several sales channels.
OLAP_QUERIES = [
    "q01", "q03", "q05", "q07", "q13", "q18",
    "ds_q01", "ds_q11", "ds_q23", "ds_q30", "ds_q32", "ds_q81", "ds_q92",
    "ds_q03", "ds_q07", "ds_q17", "ds_q19", "ds_q42", "ds_q52", "ds_q96",
]
# Untimed before the measured pass; drawn from outside the measured set.
OLAP_PREWARM = ["q06", "q12", "ds_q55"]


def olap_inputs(seed):
    order = list(OLAP_QUERIES)
    random.Random(seed).shuffle(order)
    return {"order": order, "prewarm": list(OLAP_PREWARM)}


def corpus_inputs(seed):
    """The corpus is the fixture documents and embeddings, each row
    replicated `factor` times; the seed decides the physical layout
    (which file a replica lands in, and its position there)."""
    return {"factor": 4, "files": 8,
            "salt": random.Random(seed).randrange(1, 2 ** 31)}


# ---- sql_rw -----------------------------------------------------------

ROUNDS = 3
SQL = {"clients": 4, "static_rows": 20000, "range_rows": 2000, "files": 8,
       "page_size": 5000, "rounds": ROUNDS}
# The clients run in rounds with a barrier after each; a client's round
# is ROUND_PLAN rotated by the client's number, so the clients do not all
# write at once. "write" takes WRITES[(c + r) % 4] and "extra"
# EXTRA[(c + r) % 4] for client c in round r, so every round holds the
# same statements: one write of each kind, 8 point lookups, 4 delta_scan
# range reads, 2 week aggregates, 1 nation aggregate and 1 multi-page
# read. The work is the same for every seed; the seed picks the keys,
# days, nations and values. Writes are a fifth of the statements.
ROUND_PLAN = ["point_lookup", "delta_range", "write", "extra", "point_lookup"]
WRITES = ["insert", "update", "delete", "merge"]
EXTRA = ["ship_week", "nation_band", "delta_pages", "ship_week"]


def client_plan(c):
    """Template names of client c's statements, round after round."""
    k = c % len(ROUND_PLAN)
    rotated = ROUND_PLAN[k:] + ROUND_PLAN[:k]
    return [WRITES[(c + r) % 4] if n == "write" else
            EXTRA[(c + r) % 4] if n == "extra" else n
            for r in range(ROUNDS) for n in rotated]
# Parameter domains of the reads over the fixture tables: small, so every
# statement text has a recorded result hash.
CUSTKEYS = list(range(1, 1500, 47))
DAYS = ["1993-%02d-%02d" % (m, d) for m in (2, 5, 8, 11) for d in (3, 17)] + \
       ["1996-%02d-%02d" % (m, d) for m in (1, 4, 7, 10) for d in (9, 23)]
NATIONS = list(range(0, 21, 4))


def templates():
    """{name: (kind, text)} from templates/sql_rw.sql."""
    out, name, kind, lines = {}, None, None, []
    with open(os.path.join(HERE, "templates", "sql_rw.sql")) as f:
        for line in f:
            if line.startswith("-- name:"):
                if name:
                    out[name] = (kind, "".join(lines).strip())
                name, kind = line[len("-- name:"):].split()
                lines = []
            elif name and not line.startswith("--"):
                lines.append(line)
    if name:
        out[name] = (kind, "".join(lines).strip())
    return out


def fill(text, **params):
    for k, v in params.items():
        text = text.replace("{%s}" % k, str(v))
    return text


def static_reads():
    """Every statement text the fixture-table read templates can yield."""
    t = templates()
    out = []
    for name, key, domain in [("point_lookup", "custkey", CUSTKEYS),
                              ("ship_week", "day", DAYS),
                              ("nation_band", "nation", NATIONS)]:
        out += [fill(t[name][1], **{key: v}) for v in domain]
    return out


def initial_state(spec):
    """The Delta table's rows at the start: {k: (client, v, note)}."""
    s, r = spec["static_rows"], spec["range_rows"]
    state = {k: (-1, k * 37 % 1000, "seed") for k in range(s)}
    for k in range(s, s + r * spec["clients"]):
        if k % 2 == 0:
            state[k] = ((k - s) // r, k * 37 % 1000, "seed")
    return state


def _values(rows):
    return ", ".join("(%d, %d, %d, '%s')" % r for r in rows)


def _client_script(rng, c, spec, state, t):
    """Statements of client c with the result each must return. Applies
    the writes to `state`, the model of the table."""
    lo_c = spec["static_rows"] + c * spec["range_rows"]
    hi_c = lo_c + spec["range_rows"]  # exclusive
    out = []
    for name in client_plan(c):
        if name in WRITES:
            op = name
            if op == "insert":
                absent = [k for k in range(lo_c, hi_c) if k not in state]
                keys = sorted(rng.sample(absent, 3))
                rows = [(k, c, rng.randrange(1000), "ins") for k in keys]
                for k, cl, v, note in rows:
                    state[k] = (cl, v, note)
                sql = fill(t["insert"][1], rows=_values(rows))
                expect = {"count": len(rows)}
            elif op in ("update", "delete"):
                width = 16 if op == "update" else 8
                lo = rng.randrange(lo_c, hi_c - width)
                hi = lo + width - 1
                hit = [k for k in range(lo, hi + 1) if k in state]
                if op == "update":
                    delta = rng.randrange(1, 50)
                    for k in hit:
                        cl, v, note = state[k]
                        state[k] = (cl, v + delta, note)
                    sql = fill(t["update"][1], lo=lo, hi=hi, delta=delta)
                else:
                    for k in hit:
                        del state[k]
                    sql = fill(t["delete"][1], lo=lo, hi=hi)
                expect = {"count": len(hit)}
            else:
                keys = sorted(rng.sample(range(lo_c, hi_c), 4))
                rows = [(k, c, rng.randrange(1000), "mrg") for k in keys]
                for k, cl, v, note in rows:
                    state[k] = (cl, v, note)
                sql = fill(t["merge"][1], rows=_values(rows))
                expect = {"count": len(rows)}
            out.append({"kind": "write_" + op, "sql": sql, "expect": expect})
            continue
        kind, text = t[name]
        if name == "point_lookup":
            sql, expect = fill(text, custkey=rng.choice(CUSTKEYS)), {"golden": True}
        elif name == "ship_week":
            sql, expect = fill(text, day=rng.choice(DAYS)), {"golden": True}
        elif name == "nation_band":
            sql, expect = fill(text, nation=rng.choice(NATIONS)), {"golden": True}
        elif name == "delta_range":
            lo = rng.randrange(lo_c, hi_c - 64)
            hi = lo + 63
            vs = [state[k][1] for k in range(lo, hi + 1) if k in state]
            sql = fill(text, lo=lo, hi=hi)
            expect = {"rows": [[len(vs), sum(vs)]]}
        else:
            n = spec["static_rows"]
            sql = fill(text, static_rows=n)
            expect = {"count": n, "sum_k": n * (n - 1) // 2,
                      "sum_v": sum(k * 37 % 1000 for k in range(n))}
        out.append({"kind": kind, "sql": sql, "expect": expect})
    return out


def sql_inputs(seed):
    """Per-client statement scripts, the prewarm statements and the final
    table state the writes must leave. Clients write disjoint key ranges,
    so the final state does not depend on how their statements
    interleave."""
    spec = dict(SQL)
    t = templates()
    state = initial_state(spec)
    rng = random.Random(seed)
    clients = [_client_script(random.Random(rng.randrange(2 ** 62)), c,
                              spec, state, t)
               for c in range(spec["clients"])]
    # prewarm: each template once, writing only to keys no client owns
    # and leaving them as they were
    extra = spec["static_rows"] + spec["range_rows"] * spec["clients"]
    row = [(extra, -2, 1, "warm")]
    prewarm = [
        {"kind": "read", "sql": fill(t["point_lookup"][1], custkey=1)},
        {"kind": "read", "sql": fill(t["ship_week"][1], day=DAYS[0])},
        {"kind": "read", "sql": fill(t["nation_band"][1], nation=0)},
        {"kind": "read_delta", "sql": fill(t["delta_range"][1], lo=0, hi=9)},
        {"kind": "read_pages", "sql": fill(t["delta_pages"][1],
                                           static_rows=spec["static_rows"])},
        {"kind": "write_insert", "sql": fill(t["insert"][1], rows=_values(row))},
        {"kind": "write_update", "sql": fill(t["update"][1], lo=extra,
                                             hi=extra, delta=1)},
        {"kind": "write_merge", "sql": fill(t["merge"][1], rows=_values(row))},
        {"kind": "write_delete", "sql": fill(t["delete"][1], lo=extra,
                                             hi=extra)},
    ]
    return {"spec": spec, "clients": clients, "prewarm": prewarm,
            "final_state": state}
