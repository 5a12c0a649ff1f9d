"""Seeded workload generators.

Everything the engine receives is produced here from ``--seed`` alone:
the same seed gives byte-identical inputs.  The generators also keep
their own record of what a correct engine must produce (pass/fail
counts, the surviving claim keys, per-month sums), computed without the
engine, so the workloads can check outputs against it.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

CLAIM_COLUMNS = (
    "claim_id", "member_id", "provider_id", "service_date", "received_date",
    "procedure_code", "diagnosis_code", "billed_amount", "allowed_amount",
    "paid_amount", "claim_line_number", "place_of_service", "claim_type",
)
MEMBER_COLUMNS = (
    "member_id", "first_name", "last_name", "date_of_birth", "gender",
    "zip_code", "plan_type",
)
PROVIDER_COLUMNS = (
    "provider_id", "provider_name", "npi", "specialty", "facility_type",
    "address_state", "network_status",
)

# Claims stream sizes.  The base load is 100 landing batches, so a
# batch is a 1% delta on the loaded lake.  The lake is far smaller than
# a production one so that a run fits the benchmark's time budget; the
# measurements behind the choice are in README.md, "Lake size".
N_BASE = 12_000
BATCH_ROWS = 120
RESEND_FRAC = 0.10              # re-sent keys per batch
FAIL_FRAC = 0.05                # rows breaking one data-quality rule
N_CORRUPT = 2                   # rows with an extra CSV field
N_NEW_MEMBERS = 3               # first-seen members per batch
N_MEMBERS = 400                 # members the base load draws from
N_MEMBERS_RESERVE = 400         # members kept back for new-member rows
N_PROVIDERS = 40
N_DOCS = 600                    # training corpus documents

# Service dates fall in 2024; the date dimension spans it with margin.
DATE_DIM_START = "2023-12-01"
DATE_DIM_END = "2025-03-31"
_FIRST_DAY = dt.date(2024, 1, 1)
_N_DAYS = 300


def _money(rng: random.Random, lo: int, hi: int) -> Decimal:
    return Decimal(rng.randrange(lo * 100, hi * 100)) / 100


@dataclass
class ClaimsBatch:
    """One landing batch and what the engine must make of it."""

    index: int
    rows: list[list[str]]          # CSV rows, corrupt ones included
    n_corrupt: int
    n_incremental: int             # rows silver sees (corrupt dropped)
    n_pass: int
    n_fail: int
    n_resend: int
    probe_claim: str               # a key landed (and passing) in this batch
    probe_billed: Decimal          # its expected billed amount after the load

    def write_csv(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(directory, f"batch_{self.index:04d}.csv")
        with open(path, "w", newline="") as fh:
            fh.write(",".join(CLAIM_COLUMNS) + "\n")
            for r in self.rows:
                fh.write(",".join(r) + "\n")


@dataclass
class ClaimsGenerator:
    """Claims landing stream: one base load, then small batches.

    Each batch carries ``RESEND_FRAC`` re-sent claim lines (same key,
    later ``received_date``, new amounts), ``FAIL_FRAC`` lines that break
    one data-quality rule, ``N_CORRUPT`` rows with an extra field (the
    CSV reader's corrupt-record channel), and ``N_NEW_MEMBERS`` lines
    from members no earlier claim used.  No key repeats inside a batch,
    so every non-corrupt row is either a silver pass or a quarantine
    fail: ``n_pass + n_fail == n_incremental``.
    """

    seed: int
    _rng: random.Random = field(init=False, repr=False)
    _next_claim: int = field(init=False, default=0)
    _next_member: int = field(init=False, default=0)
    _batches: int = field(init=False, default=0)
    # expected silver state: claim key -> (service_month, billed, paid)
    silver: dict = field(init=False, default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = random.Random(f"claims-{self.seed}")
        self._next_member = N_MEMBERS

    # -- reference tables --------------------------------------------------

    def members(self) -> list[tuple]:
        rng = random.Random(f"members-{self.seed}")
        out = []
        for i in range(N_MEMBERS + N_MEMBERS_RESERVE):
            out.append((
                f"M{i:06d}",
                rng.choice(("Ana", "Ben", "Chen", "Dara", "Eli", "Fay")),
                rng.choice(("Ng", "Ortiz", "Park", "Quinn", "Roy", "Sato")),
                (dt.date(1940, 1, 1) + dt.timedelta(days=rng.randrange(25000))).isoformat(),
                rng.choice(("F", "M")),
                f"{rng.randrange(10000, 99999)}",
                rng.choice(("PPO", "HMO", "EPO")),
            ))
        return out

    def providers(self) -> list[tuple]:
        rng = random.Random(f"providers-{self.seed}")
        return [
            (
                f"P{i:04d}",
                f"provider {i}",
                f"{rng.randrange(10**9, 10**10)}",
                rng.choice(("Pharmacy", "Clinic", "Hospital")),
                rng.choice(("Retail", "Mail", "Specialty")),
                rng.choice(("NY", "CA", "TX", "WA")),
                rng.choice(("IN", "OUT")),
            )
            for i in range(N_PROVIDERS)
        ]

    # -- claim lines ---------------------------------------------------------

    def _line(self, claim_id: str, member: str, received_min: dt.date | None = None) -> tuple[list[str], tuple]:
        rng = self._rng
        service = _FIRST_DAY + dt.timedelta(days=rng.randrange(_N_DAYS))
        received = service + dt.timedelta(days=rng.randrange(1, 20))
        if received_min is not None and received <= received_min:
            received = received_min + dt.timedelta(days=rng.randrange(1, 5))
        billed = _money(rng, 5, 900)
        allowed = (billed * Decimal("0.9")).quantize(Decimal("0.01"))
        paid = (billed * Decimal("0.8")).quantize(Decimal("0.01"))
        code = f"{rng.randrange(10000, 99999)}" if rng.random() < 0.8 else (
            f"{rng.choice('ABCGJ')}{rng.randrange(1000, 9999)}"
        )
        row = [
            claim_id, member, f"P{rng.randrange(N_PROVIDERS):04d}",
            service.isoformat(), received.isoformat(), code,
            f"D{rng.randrange(100, 999)}", str(billed), str(allowed), str(paid),
            "1", rng.choice(("11", "21", "81")), "RX",
        ]
        return row, (service.year * 100 + service.month, billed, paid, received)

    def _new_claim_id(self) -> str:
        self._next_claim += 1
        return f"C{self._next_claim:08d}"

    def _member(self) -> str:
        return f"M{self._rng.randrange(N_MEMBERS):06d}"

    def base(self) -> list[list[str]]:
        """The initial load: clean, distinct claim lines."""
        rows = []
        for _ in range(N_BASE):
            cid = self._new_claim_id()
            row, exp = self._line(cid, self._member())
            rows.append(row)
            self.silver[cid] = exp
        return rows

    def _fail(self, row: list[str]) -> None:
        """Break exactly one data-quality rule of the silver gate."""
        kind = self._rng.randrange(4)
        if kind == 0:
            row[5] = f"bad{self._rng.randrange(100)}"           # procedure code
        elif kind == 1:
            row[7] = f"-{row[7]}"                               # billed <= 0
        elif kind == 2:
            row[4] = row[3]
            row[3] = (dt.date.fromisoformat(row[3]) + dt.timedelta(days=3)).isoformat()
        else:
            row[2] = ""                                         # provider missing

    def next_batch(self) -> ClaimsBatch:
        rng = self._rng
        self._batches += 1
        n = BATCH_ROWS
        n_resend = int(n * RESEND_FRAC)
        n_fail = int(n * FAIL_FRAC)
        n_new = n - n_resend - n_fail
        rows: list[list[str]] = []
        resent = rng.sample(sorted(self.silver), n_resend)
        for cid in resent:
            row, exp = self._line(cid, self._member(), received_min=self.silver[cid][3])
            rows.append(row)
            self.silver[cid] = exp
        probe = None
        for i in range(n_new):
            cid = self._new_claim_id()
            if i < N_NEW_MEMBERS:
                member = f"M{self._next_member:06d}"
                self._next_member += 1
            else:
                member = self._member()
            row, exp = self._line(cid, member)
            rows.append(row)
            self.silver[cid] = exp
            probe = probe or (cid, exp[1])
        for _ in range(n_fail):
            row, _exp = self._line(self._new_claim_id(), self._member())
            self._fail(row)
            rows.append(row)
        rng.shuffle(rows)
        for _ in range(N_CORRUPT):
            row, _exp = self._line(self._new_claim_id(), self._member())
            rows.insert(rng.randrange(len(rows) + 1), row + ["extra"])
        return ClaimsBatch(
            index=self._batches,
            rows=rows,
            n_corrupt=N_CORRUPT,
            n_incremental=n,
            n_pass=n_resend + n_new,
            n_fail=n_fail,
            n_resend=n_resend,
            probe_claim=probe[0],
            probe_billed=probe[1],
        )

    def month_totals(self) -> dict[int, tuple[int, Decimal, Decimal]]:
        """Expected gold ``agg_by_month``: month -> (claims, billed, liability)."""
        out: dict[int, list] = {}
        for month, billed, paid, _rcv in self.silver.values():
            acc = out.setdefault(month, [0, Decimal(0), Decimal(0)])
            acc[0] += 1
            acc[1] += billed
            acc[2] += billed - paid
        return {m: tuple(v) for m, v in out.items()}


def write_rows(path: str, columns: tuple, rows: list) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(columns)
        w.writerows(rows)


# -- training corpus -----------------------------------------------------------

_STOPWORDS = "the of and a to in is it that for".split()
_VOCAB = _STOPWORDS + [
    a + b for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze", "bra", "gor")
    for b in ("n", "st", "lar", "mek", "dor", "vis", "quan", "tul", "bex", "rim", "sa", "po")
]


@dataclass
class Corpus:
    docs: list[tuple]        # (doc_id, text, lang, source, n_chars)
    benchmark: list[tuple]   # (doc_id, text)


def corpus(seed: int) -> Corpus:
    """Synthetic pretraining documents with the defects the corpus
    pipeline exists to remove: exact copies (5%), near copies (5%),
    short or stopword-free pages that fail the quality gate (~8%), PII
    strings for the redaction stage, and a benchmark slice quoting a
    few corpus documents (decontamination)."""
    rng = random.Random(f"corpus-{seed}")
    content = _VOCAB[len(_STOPWORDS):]
    texts: list[str] = []
    originals: list[str] = []   # copies are made of these only, so
    for i in range(N_DOCS):     # duplicate clusters stay stars
        roll = rng.random()
        if originals and roll < 0.05:
            text = rng.choice(originals)                     # exact copy
        elif originals and roll < 0.10:
            words = rng.choice(originals).split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            text = " ".join(words)                           # near copy
        elif roll < 0.14:
            text = " ".join(rng.choice(content) for _ in range(rng.randrange(3, 8)))
        elif roll < 0.18:
            text = " ".join(rng.choice(content) for _ in range(rng.randrange(20, 60)))
        else:
            words = [
                rng.choice(_STOPWORDS) if rng.random() < 0.2 else rng.choice(content)
                for _ in range(rng.randrange(30, 160))
            ]
            if rng.random() < 0.1:
                words.insert(rng.randrange(len(words)), f"user{rng.randrange(999)}@example.com")
            if rng.random() < 0.1:
                words.insert(rng.randrange(len(words)), f"555-{rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}")
            text = " ".join(words)
            originals.append(text)
        texts.append(text)
    docs = [
        (i, t, "en", f"src{i % 7}", len(t)) for i, t in enumerate(texts)
    ]
    quoted = rng.sample(range(N_DOCS), 8)
    bench = [(10_000_000 + j, texts[i]) for j, i in enumerate(quoted)]
    return Corpus(docs=docs, benchmark=bench)
