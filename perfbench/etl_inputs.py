"""Seeded dirty inputs for the ``etl_merge`` workload, and the outputs the
program must produce from them, computed here without Spark.

One ``random.Random(seed)`` drives everything, so a seed always gives the
same files.  The input properties the workload is defined by:

- ~10% of event lines carry a disallowed event type (transform quarantine);
- ~5% carry a null or sentinel ``user_id``;
- a few lines per file are malformed JSON, miss a required field, or carry
  an unparseable timestamp (ingest quarantine);
- ~4% of lines repeat an ``event_id`` of the same file with another
  timestamp (in-batch dedup, latest ``ts`` wins);
- every incremental batch re-sends ~10% existing ``event_id``s of the last
  week (cross-batch MERGE, the later batch wins); about a third of those
  move to another day, so the MERGE must also rewrite the key's old
  partition;
- the backfill spans ``BACKFILL_DAYS`` days; each incremental batch touches
  2-3 dates (a new day plus one or two late-arriving recent days).

``Expected`` replays the documented EP1/EP2 semantics (ingest split,
canonicalization, keep-latest dedup, last-writer-wins MERGE, the five EP2
queries) in plain Python.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
import re
from dataclasses import dataclass, field

ALLOWED = ("pageview", "signup", "purchase")
DISALLOWED = ("click", "logout", "refund_requested")
# raw spellings the transform canonicalizes (trim, lower, [-\s]+ -> _, alias)
SPELLINGS = {
    "pageview": ("pageview", "page_view", "Page View", "page-view", "view", " PAGEVIEW "),
    "signup": ("signup", "SignUp", " signup "),
    "purchase": ("purchase", "Purchase", "PURCHASE "),
}
EVENT_WEIGHTS = (("pageview", 6), ("signup", 2), ("purchase", 2))
NULL_USER_SPELLINGS = (None, None, None, "", "None", " null ")
BAD_TIMESTAMPS = ("BAD_TIME", "not-a-timestamp")
BACKFILL_DAYS = 30
FIRST_DAY = dt.date(2026, 3, 1)
COUNTRIES = ("US", "DE", "IN", "BR", "JP", None)
SOURCES = ("web", "app", "ads", None)

_SENTINELS = ("", "nan", "none", "<na>", "null")


def canonical_event(raw: str) -> str:
    """Mirror of functions.cleaning.canonicalize_event."""
    c = re.sub(r"[-\s]+", "_", raw.strip(" ").lower())
    return {"page_view": "pageview", "pageview": "pageview", "view": "pageview"}.get(c, c)


def normalized_id(raw):
    """Mirror of functions.cleaning.normalize_id."""
    if raw is None:
        return None
    c = raw.strip(" ")
    return None if c.lower() in _SENTINELS else c


@dataclass
class Batch:
    """One ``run_pipeline`` input: events lines, users rows, intl lines."""

    events: list[str]
    users: list[tuple]
    intl: list[str]

    def write(self, directory: str) -> dict[str, str]:
        os.makedirs(directory, exist_ok=True)
        paths = {
            "events": os.path.join(directory, "events.jsonl"),
            "users": os.path.join(directory, "users.csv"),
            "intl": os.path.join(directory, "intl_sales.jsonl"),
        }
        with open(paths["events"], "w", encoding="utf-8") as f:
            f.write("\n".join(self.events) + "\n")
        with open(paths["users"], "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f)
            w.writerow(("user_id", "country", "signup_source"))
            w.writerows(("" if v is None else v for v in row) for row in self.users)
        with open(paths["intl"], "w", encoding="utf-8") as f:
            f.write("\n".join(self.intl) + "\n")
        return paths


class Generator:
    """Deterministic batch stream for one seed."""

    def __init__(self, seed: int, backfill_lines: int, batch_lines: int, n_users: int):
        self.rng = random.Random(seed)
        self.backfill_lines = backfill_lines
        self.batch_lines = batch_lines
        self.n_users = n_users
        self.next_event = 0
        self.next_sale = 0
        self.next_user = n_users + 1
        self.day_of: dict[str, dt.date] = {}  # live event_id -> date it was sent on
        self.sale_days: dict[str, dt.date] = {}
        self.batches_made = 0

    # -- primitives -----------------------------------------------------------

    def _ts(self, day: dt.date) -> str:
        r = self.rng
        return f"{day.isoformat()}T{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d}Z"

    def _user(self) -> str | None:
        r = self.rng
        if r.random() < 0.05:
            return r.choice(NULL_USER_SPELLINGS)
        uid = str(r.randrange(1, self.next_user))
        return f" {uid}" if r.random() < 0.05 else uid

    def _event_record(self, event_id: str, day: dt.date) -> dict:
        r = self.rng
        if r.random() < 0.10:
            ev = r.choice(DISALLOWED)
        else:
            ev = r.choices([e for e, _ in EVENT_WEIGHTS], [w for _, w in EVENT_WEIGHTS])[0]
            ev = r.choice(SPELLINGS[ev])
        rec = {"event_id": event_id, "ts": self._ts(day), "user_id": self._user(), "event": ev}
        if canonical_event(ev) == "purchase":
            rec["amount"] = "n/a" if r.random() < 0.03 else f"{r.randrange(1, 500)}.{r.randrange(100):02d}"
        if r.random() < 0.3:
            rec["page"] = f"/p/{r.randrange(50)}"
        return rec

    def _dirty_line(self, day: dt.date) -> str:
        r = self.rng
        eid = f"x{self.next_event:07d}"
        self.next_event += 1
        kind = r.randrange(3)
        if kind == 0:  # malformed JSON
            return json.dumps({"event_id": eid, "ts": self._ts(day), "event": "signup"})[:-7]
        if kind == 1:  # missing required field
            return json.dumps({"event_id": eid, "event": "pageview", "user_id": "1"})
        return json.dumps(  # unparseable timestamp
            {"event_id": eid, "ts": r.choice(BAD_TIMESTAMPS), "event": "purchase", "user_id": "2", "amount": "1.00"}
        )

    def _fresh_id(self) -> str:
        eid = f"e{self.next_event:07d}"
        self.next_event += 1
        return eid

    def _events(self, n: int, days: list[dt.date], resend: float) -> list[str]:
        r = self.rng
        lines: list[str] = []
        sent: list[tuple[str, dt.date]] = []
        n_dirty = max(3, n // 400)
        batch_days = set(days)
        # re-sends revise keys of the last week: most in place on a date the
        # batch carries anyway, the rest move onto one of the batch's dates
        week_start = min(days) - dt.timedelta(7)
        recent = sorted(e for e, d in self.day_of.items() if d >= week_start) if resend else []
        in_place = [e for e in recent if self.day_of[e] in batch_days]
        movers = [e for e in recent if self.day_of[e] not in batch_days]
        used_ts: dict[str, set] = {}
        for _ in range(n - n_dirty):
            x = r.random()
            if sent and x < 0.04:  # in-batch duplicate with another timestamp
                eid, _d = r.choice(sent)
                day = r.choice(days)
            elif recent and x < 0.04 + resend:  # cross-batch re-send
                if in_place and (r.random() < 0.7 or not movers):
                    eid = r.choice(in_place)
                    day = self.day_of[eid]
                else:
                    eid = r.choice(movers)
                    day = r.choice(days)
            else:
                eid, day = self._fresh_id(), r.choice(days)
            rec = self._event_record(eid, day)
            while rec["ts"] in used_ts.setdefault(eid, set()):  # keep dedup tie-free
                rec = self._event_record(eid, day)
            used_ts[eid].add(rec["ts"])
            lines.append(json.dumps(rec))
            sent.append((eid, day))
        for _ in range(n_dirty):
            lines.insert(r.randrange(len(lines) + 1), self._dirty_line(r.choice(days)))
        for eid, day in sent:
            self.day_of[eid] = day
        return lines

    def _users(self, first: bool) -> list[tuple]:
        r = self.rng
        if first:
            ids = range(1, self.n_users + 1)
        else:
            new = range(self.next_user, self.next_user + max(1, self.n_users // 20))
            self.next_user = new.stop
            ids = sorted(set(r.sample(range(1, new.start), max(1, self.n_users // 10)))) + list(new)
        return [(str(u), r.choice(COUNTRIES), r.choice(SOURCES)) for u in ids]

    def _intl(self, n: int, days: list[dt.date]) -> list[str]:
        r = self.rng
        out = []
        live = sorted(self.sale_days)
        taken: set = set()
        for _ in range(n):
            sid = r.choice(live) if live and r.random() < 0.15 else None
            if sid is None or sid in taken:  # one row per sale_id per batch
                sid = f"s{self.next_sale:06d}"
                self.next_sale += 1
            taken.add(sid)
            day = r.choice(days)
            rec = {
                "sale_id": sid,
                "ts": f"{day.isoformat()}T{r.randrange(24):02d}:00:00",
                "date_key": day.isoformat(),
                "customer": None if r.random() < 0.04 else f"cust{r.randrange(40)}",
                "sku": f"SKU{r.randrange(60)}",
                "pcs": r.randrange(1, 5),
                "rate": float(f"{r.randrange(1, 90)}.{r.randrange(100):02d}"),
                "gross_amt": None if r.random() < 0.03 else float(f"{r.randrange(1, 900)}.{r.randrange(1, 100):02d}"),
                "currency": "USD",
                "source_dataset": "intl.csv",
            }
            out.append(json.dumps(rec))
            self.sale_days[sid] = day
        return out

    # -- batches ----------------------------------------------------------------

    def backfill(self) -> Batch:
        days = [FIRST_DAY + dt.timedelta(d) for d in range(BACKFILL_DAYS)]
        users = self._users(first=True)
        return Batch(
            self._events(self.backfill_lines, days, resend=0.0),
            users,
            self._intl(max(20, self.backfill_lines // 50), days),
        )

    def incremental(self) -> Batch:
        """The next incremental batch: a new day plus one or two recent days."""
        self.batches_made += 1
        new_day = FIRST_DAY + dt.timedelta(BACKFILL_DAYS + self.batches_made - 1)
        recent = [new_day - dt.timedelta(k) for k in range(1, 6)]
        days = [new_day] + self.rng.sample(recent, self.rng.choice((1, 2)))
        return Batch(
            self._events(self.batch_lines, days, resend=0.12),
            self._users(first=False),
            self._intl(max(5, self.batch_lines // 50), days),
        )


@dataclass
class Expected:
    """Warehouse state and outputs EP1/EP2 must produce, batch by batch."""

    fact: dict = field(default_factory=dict)  # event_id -> (date, user, event, amount)
    users: set = field(default_factory=set)
    intl: dict = field(default_factory=dict)  # sale_id -> (ts[:10], gross)

    def apply(self, batch: Batch) -> dict:
        """Fold one batch in; return its expected quality-report counters."""
        good = []
        bad = 0
        for line in batch.events:
            if not line.strip(" "):
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            if any(rec.get(k) is None for k in ("event_id", "ts", "event")):
                bad += 1
                continue
            try:
                ts = dt.datetime.strptime(rec["ts"], "%Y-%m-%dT%H:%M:%SZ")
            except ValueError:
                bad += 1
                continue
            good.append((rec, ts))
        valid = [(r, ts) for r, ts in good if canonical_event(r["event"]) in ALLOWED]
        latest: dict[str, tuple] = {}
        for rec, ts in valid:  # keep latest ts per event_id (ts are distinct)
            cur = latest.get(rec["event_id"])
            if cur is None or ts > cur[1]:
                latest[rec["event_id"]] = (rec, ts)
        null_users = 0
        for eid, (rec, ts) in latest.items():
            uid = normalized_id(rec.get("user_id"))
            null_users += uid is None
            amount = rec.get("amount")
            try:
                amount = float(amount) if amount is not None else None
            except ValueError:
                amount = None
            self.fact[eid] = (ts.date().isoformat(), uid, canonical_event(rec["event"]), amount)
        self.users |= {u for u, _c, _s in batch.users if u.strip(" ")}
        for line in batch.intl:
            rec = json.loads(line)
            if rec["customer"] is None or rec["gross_amt"] is None:
                continue  # null FK / measure rows never reach the MERGE
            self.intl[rec["sale_id"]] = (rec["ts"][:10], rec["gross_amt"])
        return {
            "raw_lines": len(good) + bad,
            "ingest_good": len(good),
            "ingest_bad": bad,
            "transform_invalid_event_type": len(good) - len(valid),
            "loaded_rows": len(latest),
            "dedup_removed": len(valid) - len(latest),
            "null_user_id": null_users,
        }

    def ep2(self) -> dict[str, list[tuple]]:
        """The five EP2 exports as lists of string/number tuples, sorted."""
        by_day: dict[str, list] = {}
        for day, uid, ev, amount in self.fact.values():
            by_day.setdefault(day, []).append((uid, ev, amount))
        dau, revenue, counts, funnel = [], [], [], []
        for day in sorted(by_day):
            rows = by_day[day]
            with_user = [r for r in rows if r[0] is not None]
            if with_user:
                dau.append((day, len({r[0] for r in with_user})))
                signups = len({u for u, e, _a in with_user if e == "signup"})
                buyers = len({u for u, e, _a in with_user if e == "purchase"})
                rate = 0.0 if signups == 0 else round(buyers / signups, 4)
                funnel.append((day, signups, buyers, rate))
            buys = [a or 0.0 for _u, e, a in rows if e == "purchase"]
            if buys:
                revenue.append((day, round(sum(buys), 2)))
            per_event: dict[str, int] = {}
            for _u, e, _a in rows:
                per_event[e] = per_event.get(e, 0) + 1
            counts.extend((day, e, n) for e, n in sorted(per_event.items()))
        intl: dict[str, float] = {}
        for day, gross in self.intl.values():
            intl[day] = intl.get(day, 0.0) + gross
        return {
            "dau": dau,
            "revenue": revenue,
            "event_counts": counts,
            "funnel": funnel,
            "international_revenue": [(d, round(v, 2)) for d, v in sorted(intl.items())],
        }


def read_csv_export(directory: str) -> list[tuple]:
    """Rows of a single-file CSV export (header dropped), numbers parsed."""
    parts = sorted(p for p in os.listdir(directory) if p.endswith(".csv"))
    rows = []
    for p in parts:
        with open(os.path.join(directory, p), encoding="utf-8", newline="") as f:
            rd = csv.reader(f)
            next(rd, None)
            for row in rd:
                rows.append(tuple(_num(v) for v in row))
    return sorted(rows, key=repr)


def _num(v: str):
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def same_rows(got: list[tuple], want: list[tuple], tol: float = 1.5e-4) -> bool:
    """Row lists equal, floats within ``tol`` (ROUND of a double sum can land
    one unit of the last kept digit apart between engines)."""
    want = sorted(want, key=repr)
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if not isinstance(a, (int, float)) or abs(a - b) > tol:
                    return False
            elif a != b:
                return False
    return True
