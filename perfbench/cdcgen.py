"""Seeded DynamoDB-Streams CDC envelopes for the canonical transactions table.

``CdcStream`` owns a seeded table state: the base rows the benchmark seeds
into ``analytics.transactions`` and, batch after batch, the JSON lines of a
CDC stream against it. A batch is about 1,300 envelopes of about 800 B, the
size of the reference's 1 MB Firehose flush. It mixes

- INSERTs of new keys,
- MODIFYs of existing keys, chosen with a recency skew (most changes hit
  the newest keys, so copy-on-write rewrites few files) or uniformly,
- REMOVEs, which the reference transform drops (lambda/transform filter,
  engine ``parse_cdc`` T1), so they never change the table,
- duplicate keys inside a batch whose ``processing_timestamp`` order differs
  from their line order, so only latest-wins by timestamp is correct,
- about 1% malformed records: truncated JSON and key-less INSERTs, which
  the engine must quarantine.

``fold`` replays emitted lines latest-wins from the base rows, parsing the
JSON itself, so the benchmark checks the engine against the stream and not
against the generator's own bookkeeping.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

COLUMNS = (
    "transaction_id", "timestamp", "customer_id", "date", "hour", "minute",
    "transaction_type", "amount", "currency", "merchant_category",
    "payment_method", "region", "risk_score", "status",
    "processing_timestamp", "device_type", "authentication_method",
    "merchant_id", "velocity_check", "amount_threshold", "location_risk",
    "pattern_match",
)
DERIVED = ("date", "hour", "minute")
_NUMERIC = ("timestamp", "amount", "processing_timestamp")

# value domains of the reference generator (FIXTURES.md F1)
_DOMAINS = {
    "transaction_type": ("PURCHASE", "REFUND", "PAYMENT", "TRANSFER", "WITHDRAWAL"),
    "currency": ("USD", "EUR", "GBP", "INR"),
    "merchant_category": ("RETAIL", "DINING", "TRAVEL", "ENTERTAINMENT",
                          "HEALTHCARE", "UTILITIES", "FINANCIAL_SERVICES"),
    "payment_method": ("CREDIT_CARD", "DEBIT_CARD", "DIGITAL_WALLET", "BANK_TRANSFER"),
    "region": ("US_EAST", "US_WEST", "EU", "APAC"),
    "risk_score": ("LOW", "MEDIUM", "HIGH"),
    "status": ("APPROVED", "DECLINED", "PENDING_REVIEW", "FLAGGED"),
    "device_type": ("MOBILE", "WEB", "POS", "ATM"),
    "authentication_method": ("2FA", "BIOMETRIC", "PIN", "PASSWORD"),
    "velocity_check": ("PASS", "FLAG", "REVIEW"),
    "amount_threshold": ("NORMAL", "HIGH", "VERY_HIGH"),
    "location_risk": ("LOW", "MEDIUM", "HIGH"),
    "pattern_match": ("NORMAL", "SUSPICIOUS"),
}
# fields a MODIFY changes (a status/risk re-evaluation of the same payment)
_MUTABLE = ("amount", "risk_score", "status", "velocity_check",
            "amount_threshold", "location_risk", "pattern_match")

START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAYS = 30
_DAY_MS = 86_400_000
LAST_DATE = dt.date(2024, 1, 1) + dt.timedelta(days=DAYS - 1)

# the mix of one batch
BATCH_SIZE = 1300
N_INSERT = 520  # new keys
N_REMOVE = 104
N_DUP = 39  # second MODIFYs of keys already in the batch
N_BAD = 13  # 1 % malformed or key-less
N_MODIFY = BATCH_SIZE - N_INSERT - N_REMOVE - N_DUP - N_BAD


def derive(ts_ms: int) -> tuple[dt.date, int, int]:
    """date/hour/minute of an epoch-millis instant, in UTC (engine T3)."""
    t = dt.datetime.fromtimestamp(ts_ms / 1000, tz=dt.timezone.utc)
    return t.date(), t.hour, t.minute


def row_from_image(image: dict) -> dict:
    """Typed table row from a plain NewImage dict (str values)."""
    row = {c: image.get(c) for c in COLUMNS if c not in DERIVED}
    for c in ("timestamp", "processing_timestamp"):
        row[c] = None if row[c] is None else int(row[c])
    if row["amount"] is not None:
        row["amount"] = Decimal(row["amount"]).quantize(Decimal("0.01"))
    if row["timestamp"] is None:
        row.update(date=None, hour=None, minute=None)
    else:
        row["date"], row["hour"], row["minute"] = derive(row["timestamp"])
    return row


def _envelope(event: str, image: dict, seq: int) -> str:
    attrs = {
        c: ({"N": v} if c in _NUMERIC else {"S": v})
        for c, v in image.items()
    }
    body = {"ApproximateCreationDateTime": seq // 1000,
            "SequenceNumber": f"{seq:021d}", "SizeBytes": 0,
            "StreamViewType": "NEW_IMAGE"}
    if "transaction_id" in image:
        body["Keys"] = {"transaction_id": attrs["transaction_id"]}
    body["OldImage" if event == "REMOVE" else "NewImage"] = attrs
    return json.dumps({"eventName": event, "eventSource": "aws:dynamodb",
                       "dynamodb": body}, separators=(",", ":"))


class CdcStream:
    """Base rows plus a deterministic sequence of CDC batches.

    ``skew`` is ``"recent"`` (MODIFY keys drawn from an exponential over
    the newest keys) or ``"uniform"``."""

    def __init__(self, seed: int, base_rows: int, skew: str = "recent"):
        if skew not in ("recent", "uniform"):
            raise ValueError(f"unknown key skew {skew!r}")
        self.rng = np.random.default_rng(seed)
        self.skew = skew
        self.batches = 0
        self.quarantined = 0
        self._seq = 0
        # base rows, column-wise and in event-time order, so "recent"
        # means a high index in ``keys``
        rng = self.rng
        ts = START_MS + np.sort(rng.integers(0, DAYS * _DAY_MS, base_rows))
        ids = np.unique(rng.integers(0, 1 << 63, base_rows + 64))
        ids = rng.permutation(ids)[:base_rows]
        cols = {
            "transaction_id": [f"TXN_{int(i):016x}" for i in ids],
            "timestamp": ts.astype(str).tolist(),
            "customer_id": [f"CUST_{int(i):04d}"
                            for i in rng.integers(1, 1001, base_rows)],
            "amount": [f"{int(c) / 100:.2f}"
                       for c in rng.integers(1000, 100_001, base_rows)],
            "processing_timestamp": (
                ts + rng.integers(100, 1001, base_rows)).astype(str).tolist(),
            "merchant_id": [f"MERCH_{int(i):04d}"
                            for i in rng.integers(1, 1001, base_rows)],
        }
        for d, vals in _DOMAINS.items():
            cols[d] = np.array(vals)[rng.integers(0, len(vals), base_rows)].tolist()
        self.base_images = cols
        self.keys: list[str] = list(cols["transaction_id"])
        self._base_at = {k: i for i, k in enumerate(self.keys)}
        # images of keys inserted or modified since the base
        self.images: dict[str, dict] = {}
        self._now_ms = START_MS + DAYS * _DAY_MS - 3_600_000

    def image(self, key: str) -> dict:
        """Current NewImage of ``key`` (plain str values)."""
        img = self.images.get(key)
        if img is None:
            i = self._base_at[key]
            img = {c: v[i] for c, v in self.base_images.items()}
        return img

    def base_table(self):
        """The typed base rows as a pyarrow table in table column order."""
        cols = self.base_images
        ts = np.array(cols["timestamp"], dtype="int64")
        out = {}
        for c in COLUMNS:
            if c in ("timestamp", "processing_timestamp"):
                out[c] = pa.array(np.array(cols[c], dtype="int64"))
            elif c == "amount":
                out[c] = pc.cast(pa.array(cols[c]), pa.decimal128(12, 2))
            elif c == "date":
                out[c] = pa.array((ts // _DAY_MS).astype("int32"), pa.date32())
            elif c == "hour":
                out[c] = pa.array((ts % _DAY_MS // 3_600_000).astype("int32"))
            elif c == "minute":
                out[c] = pa.array((ts % 3_600_000 // 60_000).astype("int32"))
            else:
                out[c] = pa.array(cols[c], pa.string())
        return pa.table(out)

    def _pick(self, domain: str) -> str:
        vals = _DOMAINS[domain]
        return vals[int(self.rng.integers(0, len(vals)))]

    def _new_key(self, ts_ms: int) -> str:
        while True:
            key = f"TXN_{int(self.rng.integers(0, 1 << 63)):016x}"
            if key not in self.images and key not in self._base_at:
                break
        img = {
            "transaction_id": key,
            "timestamp": str(ts_ms),
            "customer_id": f"CUST_{int(self.rng.integers(1, 1001)):04d}",
            "amount": f"{int(self.rng.integers(1000, 100_001)) / 100:.2f}",
            "processing_timestamp": str(ts_ms + int(self.rng.integers(100, 1001))),
            "merchant_id": f"MERCH_{int(self.rng.integers(1, 1001)):04d}",
        }
        for d in _DOMAINS:
            img[d] = self._pick(d)
        self.keys.append(key)
        self.images[key] = img
        return key

    def _modify_key(self) -> str:
        n = len(self.keys)
        if self.skew == "uniform":
            return self.keys[int(self.rng.integers(0, n))]
        back = int(self.rng.exponential(n / 50))
        return self.keys[n - 1 - min(back, n - 1)]

    def _modified(self, key: str) -> dict:
        img = dict(self.image(key))
        for c in _MUTABLE:
            if c == "amount":
                img[c] = f"{int(self.rng.integers(1000, 100_001)) / 100:.2f}"
            elif self.rng.random() < 0.5:
                img[c] = self._pick(c)
        return img

    def next_batch(self) -> list[str]:
        """The next batch's JSON lines, in file order."""
        self._now_ms += 60_000  # one flush per simulated minute
        events: list[tuple[str, dict]] = []
        for _ in range(N_INSERT):
            key = self._new_key(self._now_ms - int(self.rng.integers(0, 60_000)))
            events.append(("INSERT", self.images[key]))
        for _ in range(N_MODIFY):
            events.append(("MODIFY", self._modified(self._modify_key())))
        for _ in range(N_REMOVE):
            events.append(("REMOVE", self.image(self._modify_key())))
        # within-batch duplicates: a second MODIFY of a key already in
        # this batch
        for i in self.rng.choice(len(events), N_DUP, replace=False):
            events.append(("MODIFY", self._modified(events[i][1]["transaction_id"])))
        # distinct processing timestamps per event, then shuffled line
        # order: file order no longer tells which duplicate is latest
        base = self._now_ms + 1_000
        lines: list[str] = []
        latest: dict[str, tuple[int, dict]] = {}
        for i, (ev, img) in enumerate(events):
            img = dict(img, processing_timestamp=str(base + i))
            self._seq += 1
            lines.append(_envelope(ev, img, self._seq))
            if ev != "REMOVE":
                latest[img["transaction_id"]] = (base + i, img)
        for _, img in latest.values():
            self.images[img["transaction_id"]] = img
        for j in range(N_BAD):
            self._seq += 1
            img = self._modified(self._modify_key())
            if j % 2:
                del img["transaction_id"]
                lines.append(_envelope("INSERT", img, self._seq))
            else:
                good = _envelope("MODIFY", img, self._seq)
                lines.append(good[: len(good) // 2])
        self.quarantined += N_BAD
        order = self.rng.permutation(len(lines))
        self.batches += 1
        return [lines[i] for i in order]


def fold(batches: list[list[str]]) -> tuple[dict, int]:
    """Latest-wins replay: ``(rows by key, quarantined count)``.

    The rows are those the batches leave behind, to be laid over the base
    table. Within a batch the INSERT/MODIFY with the highest
    ``processing_timestamp`` wins; a later batch overrides an earlier one
    (commit order); REMOVE is dropped like the engine's T1 filter.
    Unparseable lines and INSERT/MODIFY without a key count as
    quarantined."""
    rows: dict[str, dict] = {}
    bad = 0
    for lines in batches:
        latest: dict[str, tuple[int, dict]] = {}
        for line in lines:
            try:
                env = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            event = env.get("eventName")
            if event not in ("INSERT", "MODIFY"):
                continue
            image = {
                c: next(iter(v.values()))
                for c, v in (env.get("dynamodb", {}).get("NewImage") or {}).items()
            }
            key = image.get("transaction_id")
            if key is None:
                bad += 1
                continue
            pts = int(image.get("processing_timestamp") or 0)
            if key not in latest or pts > latest[key][0]:
                latest[key] = (pts, image)
        for key, (_, image) in latest.items():
            rows[key] = row_from_image(image)
    return rows, bad


def rows_table(rows: dict, schema):
    """The folded rows as a pyarrow table with the base table's schema."""
    return pa.Table.from_pylist(list(rows.values()), schema=schema)
