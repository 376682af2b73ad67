"""Seeded daily inputs for DailyFraudJob in the reference formats, with
planted fraud and the report the job must produce.

Per batch date the generator writes, into the job's input directory:

- `transactions_DDMMYYYY.txt`: `;`-separated, comma decimals;
- `terminals_DDMMYYYY.xlsx` (sheet `terminals`) and
  `passport_blacklist_DDMMYYYY.xlsx` (sheet `blacklist`, Excel date
  serials), via the stdlib writer in xlsx.py;

and it rewrites the parquet source DB (`clients`, `accounts`, `cards`)
with that day's attribute churn applied.

Background traffic cannot fire a rule: every card transacts only at
terminals in its client's home city, every result is SUCCESS, passports
and contracts expire far in the future and no blacklist entry names a
client. Each day a few reserved clients each carry exactly one planted
pattern (rules 1-5), plus near-misses of rules 4 and 5 that must not
fire. Churn only touches attributes no rule reads (phone, last name,
terminal type/address, far-future contract dates, a card moving between
two accounts of the same client), so the expected report is known
exactly; its fio/phone columns follow the churn.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from xlsx import write_xlsx

CITIES = [
    "Moscow", "Kazan", "Omsk", "Perm", "Tver", "Sochi",
    "Ufa", "Samara", "Tula", "Vologda", "Irkutsk", "Kursk",
]
FIRST = ["Ivan", "Petr", "Anna", "Olga", "Igor", "Maria", "Oleg", "Elena"]
LAST = ["Ivanov", "Petrov", "Sidorov", "Orlov", "Volkov", "Zaitsev", "Popov", "Lebedev"]
PATR = ["Ivanovich", "Petrovich", "Olegovna", "Igorevna", "Sergeevich"]
OPER = ["PAYMENT", "WITHDRAW", "DEPOSIT"]
DIMS = ["clients", "accounts", "cards", "terminals"]

DAY1 = dt.date(2024, 3, 1)
FAR = dt.date(2099, 12, 31)
PAST = dt.date(2023, 6, 30)
EXCEL_EPOCH = dt.date(1899, 12, 30)

#: planted patterns per day: kind -> number of reserved clients
PLANTED = {"blocked": 2, "expired": 2, "invalid": 2, "diff_city": 2, "brute": 2,
           "near_diff_city": 1, "near_brute": 1}

EV = {
    "blocked": "BLOCKED_PASSPORT",
    "expired": "EXPIRED_PASSPORT",
    "invalid": "INVALID_CONTRACT",
    "diff_city": "DIFF_CITY_SHORT_TIME",
    "brute": "BRUTE_FORCE_ATTEMPT",
}


def ddmmyyyy(day: int) -> str:
    return (DAY1 + dt.timedelta(days=day - 1)).strftime("%d%m%Y")


def batch_date(day: int) -> dt.date:
    return DAY1 + dt.timedelta(days=day - 1)


@dataclass
class Client:
    cid: str
    last: str
    first: str
    patr: str
    dob: dt.date
    passport: str
    passport_to: dt.date
    phone: str
    city: int
    accounts: list  # [account_num, ...]


class DailyGen:
    """State of the simulated bank, advanced one batch date at a time.
    The same (seed, params) always writes byte-identical files."""

    def __init__(self, seed: int, *, clients: int, terminals: int, txns_per_day: int,
                 days: int, churn: float, new_clients_per_day: int, blacklist_per_day: int):
        self.seed = seed
        self.txns_per_day = txns_per_day
        self.churn = churn
        self.new_clients_per_day = new_clients_per_day
        self.blacklist_per_day = blacklist_per_day
        rng = np.random.default_rng([seed, 0])
        self.clients: list[Client] = []
        self.acc_valid: dict[str, dt.date] = {}
        self.acc_client: dict[str, str] = {}
        self.card_acc: dict[str, str] = {}
        self.cards_of: list[list[str]] = []
        n_reserved = days * sum(PLANTED.values())
        for i in range(clients + n_reserved):
            self._new_client(rng)
        self.background = list(range(n_reserved, clients + n_reserved))
        # reserved clients, handed out per (day, kind)
        self.reserved: dict[tuple[int, str], list[int]] = {}
        nxt = 0
        for day in range(1, days + 1):
            for kind, n in PLANTED.items():
                self.reserved[(day, kind)] = list(range(nxt, nxt + n))
                nxt += n
            for i in self.reserved[(day, "expired")]:
                self.clients[i].passport_to = PAST
            for i in self.reserved[(day, "invalid")]:
                for a in self.clients[i].accounts:
                    self.acc_valid[a] = PAST
        # terminals: id -> [type, city, address]; every city has some
        self.terminals: list[list] = []
        for t in range(terminals):
            city = t % len(CITIES)
            self.terminals.append([f"T{t:06d}", "ATM" if rng.random() < 0.5 else "POS",
                                   CITIES[city], f"{CITIES[city]}, ul. {int(rng.integers(1, 200))}"])
        self.term_by_city = [
            [t for t in range(terminals) if t % len(CITIES) == c] for c in range(len(CITIES))
        ]
        self.next_trans = 1
        self.next_blk = 1
        #: planted report rows: (batch day, trans_date, client index, kind)
        self.hits: list[tuple[int, str, int, str]] = []
        #: per day and dimension: versions closed by the day's churn, and
        #: keys changed or inserted (closed + new keys)
        self.closed: dict[int, dict[str, int]] = {}
        self.changed: dict[int, dict[str, int]] = {}
        #: per day and dimension: rows in the staged snapshot
        self.staged: dict[int, dict[str, int]] = {}
        #: per day: input rows and input bytes written
        self.rows: dict[int, int] = {}
        self.bytes: dict[int, int] = {}
        #: snapshot per day of (fio, phone, passport) for reserved clients
        self.snap: dict[int, dict[int, tuple[str, str, str]]] = {}

    # -- entities ----------------------------------------------------------

    def _new_client(self, rng) -> int:
        i = len(self.clients)
        cid = f"C{i:07d}"
        accs = [f"40817{i:09d}{k}" for k in range(2)]
        c = Client(
            cid=cid,
            last=LAST[int(rng.integers(len(LAST)))],
            first=FIRST[int(rng.integers(len(FIRST)))],
            patr=PATR[int(rng.integers(len(PATR)))],
            dob=dt.date(1950, 1, 1) + dt.timedelta(days=int(rng.integers(18000))),
            passport=f"{4000 + i % 5000:04d} {i:07d}",
            passport_to=FAR,
            phone=f"+7 9{int(rng.integers(10**9)):09d}",
            city=int(rng.integers(len(CITIES))),
            accounts=accs,
        )
        self.clients.append(c)
        cards = []
        for k, a in enumerate(accs):
            self.acc_valid[a] = FAR
            self.acc_client[a] = cid
            card = f"4{i:09d}{k:06d}"
            self.card_acc[card] = a
            cards.append(card)
        self.cards_of.append(cards)
        return i

    # -- one batch date ----------------------------------------------------

    def _apply_churn(self, day: int, rng) -> None:
        """Day `day`'s source-DB and terminal changes: a few new clients
        (SCD2 inserts) and attribute changes on existing keys (SCD2
        closes). Every change picks a value different from the old one,
        so each counts as exactly one closed version."""
        closed = dict.fromkeys(DIMS, 0)
        k = max(1, int(self.churn * len(self.clients)))
        for i in sorted(rng.choice(len(self.clients), size=k, replace=False).tolist()):
            c = self.clients[i]
            c.phone = f"+7 8{i:09d}{day:03d}"
            if rng.random() < 0.5:
                c.last = LAST[(LAST.index(c.last) + 1) % len(LAST)]
            closed["clients"] += 1
        for i in sorted(rng.choice(self.background, size=k, replace=False).tolist()):
            a = self.clients[i].accounts[int(rng.integers(2))]
            self.acc_valid[a] = FAR - dt.timedelta(days=day)
            closed["accounts"] += 1
        for i in sorted(rng.choice(self.background, size=k, replace=False).tolist()):
            card = self.cards_of[i][int(rng.integers(2))]
            accs = self.clients[i].accounts
            self.card_acc[card] = accs[1] if self.card_acc[card] == accs[0] else accs[0]
            closed["cards"] += 1
        kt = max(1, int(self.churn * len(self.terminals)))
        for t in sorted(rng.choice(len(self.terminals), size=kt, replace=False).tolist()):
            row = self.terminals[t]
            row[1] = "POS" if row[1] == "ATM" else "ATM"
            row[3] = f"{row[2]}, ul. {200 + day}"
            closed["terminals"] += 1
        # new clients come last, so none of them is also counted as changed
        for _ in range(self.new_clients_per_day):
            self.background.append(self._new_client(rng))
        self.closed[day] = closed
        self.changed[day] = {
            "clients": closed["clients"] + self.new_clients_per_day,
            "accounts": closed["accounts"] + 2 * self.new_clients_per_day,
            "cards": closed["cards"] + 2 * self.new_clients_per_day,
            "terminals": closed["terminals"],
        }

    def live_keys(self, dim: str) -> int:
        return {"clients": len(self.clients), "accounts": len(self.acc_valid),
                "cards": len(self.card_acc), "terminals": len(self.terminals)}[dim]

    def _txn(self, lines, day, secs, card, term, amt, result):
        ts = dt.datetime.combine(batch_date(day), dt.time()) + dt.timedelta(seconds=int(secs))
        tid = f"{self.next_trans:012d}"
        self.next_trans += 1
        whole, cents = divmod(int(amt), 100)
        lines.append(
            f"{tid};{ts:%Y-%m-%d %H:%M:%S};{card};{OPER[self.next_trans % 3]};"
            f"{whole},{cents:02d};{result};{self.terminals[term][0]}"
        )
        return f"{ts:%Y-%m-%d %H:%M:%S}"

    def _home_term(self, rng, i):
        pool = self.term_by_city[self.clients[i].city]
        return pool[int(rng.integers(len(pool)))]

    def _traffic(self, lines: list[str], blk_rows: list[list], day: int, rng) -> None:
        """Day `day`'s background transactions and planted patterns."""
        n = self.txns_per_day
        who = rng.choice(self.background, size=n)
        secs = np.sort(rng.integers(0, 86400, size=n))
        amts = rng.integers(100, 5_000_000, size=n)
        for i, s, a in zip(who.tolist(), secs.tolist(), amts.tolist()):
            card = self.cards_of[i][int(rng.integers(2))]
            self._txn(lines, day, s, card, self._home_term(rng, i), a, "SUCCESS")
        for kind in PLANTED:
            for i in self.reserved[(day, kind)]:
                card = self.cards_of[i][0]
                t0 = int(rng.integers(3600, 79200))
                home = self._home_term(rng, i)
                if kind in ("blocked", "expired", "invalid"):
                    for j in range(2 if kind == "blocked" else 1):
                        ts = self._txn(lines, day, t0 + 600 * j, card, home,
                                       int(rng.integers(100, 10**6)), "SUCCESS")
                        self.hits.append((day, ts, i, kind))
                    if kind == "blocked":
                        blk_rows.append([self.clients[i].passport, (batch_date(day) - EXCEL_EPOCH).days])
                elif kind in ("diff_city", "near_diff_city"):
                    other_city = (self.clients[i].city + 1 + int(rng.integers(len(CITIES) - 1))) % len(CITIES)
                    pool = self.term_by_city[other_city]
                    gap = int(rng.integers(300, 3300)) if kind == "diff_city" else int(rng.integers(4500, 7200))
                    ts1 = self._txn(lines, day, t0, card, home, int(rng.integers(100, 10**6)), "SUCCESS")
                    ts2 = self._txn(lines, day, t0 + gap, card, pool[int(rng.integers(len(pool)))],
                                    int(rng.integers(100, 10**6)), "SUCCESS")
                    if kind == "diff_city":
                        self.hits += [(day, ts1, i, kind), (day, ts2, i, kind)]
                else:  # brute / near_brute: 4 attempts within 20 minutes
                    amounts = sorted(rng.choice(np.arange(1000, 10**6), size=4, replace=False).tolist(),
                                     reverse=kind == "brute")
                    for j, (amt, res) in enumerate(zip(amounts, ["REJECT"] * 3 + ["SUCCESS"])):
                        ts = self._txn(lines, day, t0 + 150 * j, card, home, amt, res)
                        if j == 0 and kind == "brute":
                            self.hits.append((day, ts, i, kind))

    def write_day(self, day: int, input_dir: str, source_dir: str) -> str:
        """Write batch `day`'s files and return its DDMMYYYY stamp. Days
        must be written in order; day 1 bootstraps the warehouse."""
        rng = np.random.default_rng([self.seed, day])
        if day > 1:
            self._apply_churn(day, rng)
        else:
            self.closed[day] = dict.fromkeys(DIMS, 0)
            self.changed[day] = dict.fromkeys(DIMS, 0)
        stamp = ddmmyyyy(day)
        lines: list[str] = []
        blk_rows: list[list] = []
        self._traffic(lines, blk_rows, day, rng)
        for _ in range(self.blacklist_per_day):
            blk_rows.append([f"X{self.next_blk:010d}", (batch_date(day) - EXCEL_EPOCH).days])
            self.next_blk += 1

        os.makedirs(input_dir, exist_ok=True)
        os.makedirs(source_dir, exist_ok=True)
        paths = [os.path.join(input_dir, f"transactions_{stamp}.txt"),
                 os.path.join(input_dir, f"terminals_{stamp}.xlsx"),
                 os.path.join(input_dir, f"passport_blacklist_{stamp}.xlsx")]
        with open(paths[0], "w", encoding="utf-8", newline="\n") as f:
            f.write("transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n")
            f.write("\n".join(lines) + "\n")
        write_xlsx(paths[1], "terminals",
                   ["terminal_id", "terminal_type", "terminal_city", "terminal_address"], self.terminals)
        write_xlsx(paths[2], "blacklist", ["passport", "date"], blk_rows)
        paths += self._write_source_db(source_dir)
        self.staged[day] = {dim: self.live_keys(dim) for dim in DIMS}
        self.rows[day] = (len(lines) + len(self.terminals) + len(blk_rows)
                          + len(self.clients) + 2 * len(self.acc_valid))
        self.bytes[day] = sum(os.path.getsize(p) for p in paths)
        self.snap[day] = {i: self._identity(i) for i in {h[2] for h in self.hits}}
        return stamp

    def _write_source_db(self, source_dir: str) -> list[str]:
        cl = self.clients
        tables = {
            "clients": pa.table({
                "client_id": [c.cid for c in cl],
                "last_name": [c.last for c in cl],
                "first_name": [c.first for c in cl],
                "patronymic": [c.patr for c in cl],
                "date_of_birth": pa.array([c.dob for c in cl], pa.date32()),
                "passport_num": [c.passport for c in cl],
                "passport_valid_to": pa.array([c.passport_to for c in cl], pa.date32()),
                "phone": [c.phone for c in cl],
            }),
            "accounts": pa.table({
                "account": list(self.acc_valid),
                "valid_to": pa.array(list(self.acc_valid.values()), pa.date32()),
                "client": [self.acc_client[a] for a in self.acc_valid],
            }),
            "cards": pa.table({
                "card_num": list(self.card_acc),
                "account": list(self.card_acc.values()),
            }),
        }
        out = []
        for name, table in tables.items():
            path = os.path.join(source_dir, f"{name}.parquet")
            pq.write_table(table, path)
            out.append(path)
        return out

    def _identity(self, i: int) -> tuple[str, str, str]:
        c = self.clients[i]
        return f"{c.first} {c.patr} {c.last}", c.phone, c.passport

    # -- expected output ---------------------------------------------------

    def expected_report(self, day: int, incremental: bool) -> Counter:
        """The rep_fraud rows for report date `day`: every planted hit
        from days <= `day` (only `day` itself when incremental), with
        the client's name and phone as of `day`."""
        rd = batch_date(day).isoformat()
        out = Counter()
        snap = self.snap[day]
        for hday, ts, i, kind in self.hits:
            if hday > day or (incremental and hday != day):
                continue
            fio, phone, passport = snap[i]
            out[(ts, passport, fio, phone, EV[kind], rd)] += 1
        return out
