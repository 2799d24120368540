"""Seeded input generators for the two streaming workloads.

Every input is a function of (workload parameters, seed): the same seed
gives the same bytes. Each generator also returns the exact truth the
harness checks the engine's output against.

  orders: Maxwell CDC envelopes (order_info, order_detail, activity,
          coupon) rendered to one file per due slot of the paced feeder.
  logs:   a backlog of behaviour-log JSON lines (start, page, display[],
          action[], err) plus a known share of malformed lines.

Files are written to a staging name and renamed into place, so a file
source watching the target directory never sees a partial file.
"""
import bisect
import datetime
import json
import os
import random

# Traffic dimensions, one set per workload, recorded in perfbench/notes.json.
# Only rate_eps is measured (about half of the chain's drain capacity); the
# other values are assumed, each there to put load on one engine path.
ORDERS = {
    "files_per_s": 10,          # feeder cadence: one file every 100 ms
    "rate_eps": 1450,           # offered CDC envelope lines per second
    "users": 3000,              # assumed: keys of the first-of-day flag state
    "zipf_s": 1.1,              # assumed: user_id skew, uneven state partitions
    "ooo_share": 0.1,           # assumed: orders shifted back by < 5 s (inside the watermark)
    "late_share": 0.01,         # assumed: orders an hour behind the watermark (dropped by the joins)
    "dup_share": 0.02,          # assumed: order_detail envelopes replayed (deduplicated)
    "update_share": 0.1,        # assumed: orders that also get an order_info update
    # Not traffic: every detail gets an activity and a coupon row, because
    # the streaming chain loses details without one (an open defect,
    # notes.json). The null-padded join path is therefore not measured;
    # --selftest runs the chain on UNMATCHED and fails until that is fixed.
    "activity_share": 1.0,
    "coupon_share": 1.0,
    "malformed_share": 0.005,   # assumed: unparseable envelope lines (CDC dirty branch)
    "compression": 10000,       # event seconds per wall second: 2 UTC midnights in 10 s
}

# orders with details that lack an activity or coupon row (--selftest)
UNMATCHED = dict(ORDERS, activity_share=0.5, coupon_share=0.5)

LOGS = {
    "files": 16,
    "lines_per_file": 1250,
    "users": 5000,              # assumed: mid/uid values in the common block
    "zipf_s": 1.1,              # assumed: user skew
    "start_share": 0.15,        # assumed: start events (start branch); the rest are page events
    "err_share": 0.05,          # assumed: events that also carry an err object (err branch)
    "malformed_share": 0.01,    # assumed: lines that land on the dirty branch
    "warmup_lines": 300,
}

# 2024-01-01T23:58:00Z: the event clock starts two minutes before midnight
EPOCH0 = 1704153480


def zipf_sampler(rng, n, s):
    """Sampler of ranks 1..n with P(k) proportional to k^-s."""
    cum, acc = [], 0.0
    for k in range(1, n + 1):
        acc += k ** -s
        cum.append(acc)
    return lambda: bisect.bisect_left(cum, rng.random() * acc) + 1


def write_atomic(path, lines):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def envelope(table, typ, ts, data, old=None):
    env = {"database": "gmall", "table": table, "type": typ, "data": data, "ts": ts}
    if old is not None:
        env["old"] = old
    return json.dumps(env, separators=(",", ":"))


def day(ts):
    return datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).date().isoformat()


class OrderFeed:
    """Builds order groups (info + details + optional activity/coupon)."""

    def __init__(self, rng, p):
        self.rng, self.p = rng, p
        self.user = zipf_sampler(rng, p["users"], p["zipf_s"])
        self.order_id = 0
        self.detail_id = 0

    def group(self, ts, user=None):
        rng = self.rng
        self.order_id += 1
        oid = str(self.order_id)
        uid = str(user if user is not None else self.user())
        lines = [envelope("order_info", "insert", ts, {
            "id": oid, "user_id": uid, "province_id": str(rng.randint(1, 34)),
            "order_status": "1001"})]
        if rng.random() < self.p["update_share"]:
            lines.append(envelope("order_info", "update", ts, {
                "id": oid, "user_id": uid, "province_id": "1", "order_status": "1002"},
                old={"order_status": "1001"}))
        details = []
        for _ in range(rng.choice((1, 1, 2, 3))):
            self.detail_id += 1
            did = str(self.detail_id)
            num = rng.randint(1, 5)
            price = rng.randint(100, 99999) / 100
            det = envelope("order_detail", "insert", ts, {
                "id": did, "order_id": oid, "sku_id": str(rng.randint(1, 500)),
                "sku_name": "sku", "sku_num": str(num), "order_price": f"{price:.2f}",
                "source_type": "2401", "create_time": "t"})
            lines.append(det)
            if rng.random() < self.p["dup_share"]:
                lines.append(det)
            if rng.random() < self.p["activity_share"]:
                lines.append(envelope("order_detail_activity", "insert", ts, {
                    "order_detail_id": did, "activity_id": str(rng.randint(1, 9)),
                    "activity_rule_id": "r"}))
            if rng.random() < self.p["coupon_share"]:
                lines.append(envelope("order_detail_coupon", "insert", ts, {
                    "order_detail_id": did, "coupon_id": str(rng.randint(1, 9))}))
            # the harness carries order_price * sku_num as a DECIMAL(16,2)
            details.append((did, uid, ts, round(num * price, 2)))
        return lines, details


def orders(root, seed, seconds, p=ORDERS):
    """Renders `seconds` of paced feed into root/staging plus the priming
    and flush files. Returns the truth dict (also written to truth.json)."""
    rng = random.Random(seed)
    feed = OrderFeed(rng, p)
    staging = os.path.join(root, "staging")
    os.makedirs(staging, exist_ok=True)
    n_files = int(seconds * p["files_per_s"])
    span = p["compression"] / p["files_per_s"]          # event seconds per file
    per_file = p["rate_eps"] / p["files_per_s"]          # lines per file
    ontime, malformed, late_details, late_lines, paced_lines = [], 0, 0, 0, 0

    # priming file: one order 60 event-seconds before the feed starts; the
    # set-up waits for its batch, so every later batch runs with a
    # watermark of at least EPOCH0 - 65 s
    lines, det = feed.group(EPOCH0 - 60, user=0)
    write_atomic(os.path.join(root, "prime.json"), lines)
    ontime += det

    for f in range(n_files):
        t0 = EPOCH0 + f * span
        lines = []
        while len(lines) < per_file:
            ts = int(t0 + 5 + rng.random() * (span - 10))
            r = rng.random()
            if r < p["late_share"] and f >= 2:
                g, det = feed.group(EPOCH0 - 3600 - rng.randint(0, 600))
                late_details += len(det)
                late_lines += len(g)
            else:
                if r < p["late_share"] + p["ooo_share"]:
                    ts -= rng.randint(1, 4)
                g, det = feed.group(ts)
                ontime += det
            lines += g
            if rng.random() < p["malformed_share"] * len(g):
                lines.append(rng.choice(('{"database":"gmall","table":', "not json",
                                         '{"database":"gmall","type":"insert"}')))
                malformed += 1
        write_atomic(os.path.join(staging, f"f{f:05d}.json"), lines)
        paced_lines += len(lines)

    # flush file: one order two hours past the last event; its batch moves
    # the watermark past every window the feed opened, and the no-data
    # batch after it emits them
    flush_ts = int(EPOCH0 + n_files * span + 7200)
    lines, _ = feed.group(flush_ts, user=0)
    write_atomic(os.path.join(root, "flush.json"), lines)

    truth = order_truth(ontime)
    truth.update({"files": n_files, "lines": paced_lines, "malformed": malformed,
                  "late_details": late_details,
                  "late_lines": late_lines, "params": p, "seed": seed})
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def order_truth(details):
    """Window totals of tradeOrderWindow over the on-time details: dedup by
    id, uu = first event of the user's UTC day, 10 s windows."""
    seen, rows = set(), []
    for did, uid, ts, amt in details:
        if did not in seen:
            seen.add(did)
            rows.append((uid, ts, amt, did))
    last_day, windows = {}, {}
    for uid, ts, amt, _ in sorted(rows, key=lambda r: (r[0], r[1], int(r[3]))):
        d = day(ts)
        uu = 1 if last_day.get(uid) != d else 0
        last_day[uid] = d
        w = windows.setdefault(str(ts - ts % 10), [0, 0.0, 0])
        w[0] += uu
        w[1] += amt
        w[2] += 1
    for w in windows.values():
        w[1] = round(w[1], 2)
    days = sorted({day(ts) for _, ts, _, _ in rows})
    return {"windows": windows, "details": len(rows),
            "users": len(last_day), "uu_total": sum(w[0] for w in windows.values()),
            "days": days}


def log_line(rng, user, ts, p):
    common = {"ar": str(rng.randint(1, 34)), "ba": rng.choice(("Apple", "Huawei", "Xiaomi")),
              "ch": rng.choice(("web", "oppo", "vivo")), "is_new": rng.choice(("0", "1")),
              "md": "m", "mid": f"mid_{user}", "os": rng.choice(("iOS", "Android")),
              "uid": str(user), "vc": "v2.1"}
    ev = {"common": common}
    n_disp = n_act = 0
    if rng.random() < p["start_share"]:
        ev["start"] = {"entry": rng.choice(("icon", "notice")),
                       "loading_time": rng.randint(100, 9000), "open_ad_id": rng.randint(1, 20),
                       "open_ad_ms": rng.randint(100, 5000), "open_ad_skip_ms": 0}
    else:
        ev["page"] = {"during_time": rng.randint(100, 20000), "item": str(rng.randint(1, 500)),
                      "item_type": "sku_id", "last_page_id": "home",
                      "page_id": rng.choice(("home", "good_detail", "cart", "search")),
                      "source_type": "promotion"}
        n_disp = rng.choice((0, 0, 1, 2, 3, 4, 5))
        if n_disp:
            ev["displays"] = [{"display_type": "query", "item": str(rng.randint(1, 500)),
                               "item_type": "sku_id", "order": i + 1, "pos_id": rng.randint(1, 5)}
                              for i in range(n_disp)]
        n_act = rng.choice((0, 0, 0, 1, 2, 3))
        if n_act:
            ev["actions"] = [{"action_id": "favor_add", "item": str(rng.randint(1, 500)),
                              "item_type": "sku_id", "ts": ts * 1000 + i}
                             for i in range(n_act)]
    has_err = rng.random() < p["err_share"]
    if has_err:
        ev["err"] = {"error_code": str(rng.randint(1000, 9999)), "msg": "exception"}
    ev["ts"] = ts * 1000
    return json.dumps(ev, separators=(",", ":")), {
        "err": int(has_err), "start": int("start" in ev), "page": int("page" in ev),
        "display": n_disp, "action": n_act}


def logs(root, seed, p=LOGS):
    """Writes the drain backlog to root/input and a warm-up backlog to
    root/warmup. Returns per-branch row truth (also in truth.json)."""
    rng = random.Random(seed)
    user = zipf_sampler(rng, p["users"], p["zipf_s"])
    truth = {b: 0 for b in ("err", "start", "page", "display", "action", "dirty")}
    bad = ('{"common":{"uid":"1"},"page":', "<html>", '{"common":{"uid":"2"},"ts":null}',
           '{"common":{"mid":"m"},"page":{"page_id":"home"}}')

    def render(n, counts):
        lines = []
        for _ in range(n):
            if rng.random() < p["malformed_share"]:
                lines.append(rng.choice(bad))
                counts["dirty"] += 1
                continue
            line, c = log_line(rng, user(), EPOCH0 + rng.randint(0, 86400), p)
            lines.append(line)
            for k, v in c.items():
                counts[k] += v
        return lines

    for sub in ("input", "warmup"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    write_atomic(os.path.join(root, "warmup", "w0.json"),
                 render(p["warmup_lines"], dict.fromkeys(truth, 0)))
    for f in range(p["files"]):
        write_atomic(os.path.join(root, "input", f"l{f:04d}.json"),
                     render(p["lines_per_file"], truth))
    truth = {"branches": truth, "lines": p["files"] * p["lines_per_file"],
             "bytes": sum(os.path.getsize(os.path.join(root, "input", n))
                          for n in os.listdir(os.path.join(root, "input"))),
             "params": p, "seed": seed}
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
