"""Seeded SCATS capture generator in the Transis wire shape.

A capture is a sequence of ``<TransisResponse>`` documents, each a
network snapshot of many sites with about 24 detectors per site, joined
by NUL bytes.  Region codes are skewed (Zipf), and a few percent of the
documents are empty or carry malformed ``Detector`` children (no
``Did`` or no ``count``), which the pipeline must drop.

Next to the bytes the generator returns the records the pipeline must
deliver, as canonical JSON strings, one list per document.  Those are
what the sink's decoded output is checked against: :func:`digest` folds
a multiset of records into an order-insensitive value that changes when
a record is lost, repeated or altered.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

REGIONS = ("ROZ", "RNS", "RWN", "RSG", "RCE", "RBK", "RHU", "RPE", "RLI", "RMA", "RTU", "RKO")
TZ = timezone(timedelta(hours=10))
FIRST_WINDOW = datetime(2019, 10, 3, 6, 0, tzinfo=TZ)
INTERVAL_S = 300
ODD_PERIOD = 25  # 4% of documents are odd: 2% empty, 2% malformed
EMPTY_DOC = "<TransisResponse><DetectorCountMessages></DetectorCountMessages></TransisResponse>"


@dataclass(frozen=True)
class Capture:
    docs: list[str]  # XML text of each document, without the NUL
    expected: list[list[str]]  # canonical JSON of the records each document yields

    def records(self, n_docs: int | None = None) -> list[str]:
        """Expected records of the first ``n_docs`` documents (all by default)."""
        return [r for recs in self.expected[:n_docs] for r in recs]

    def digest(self) -> str:
        return digest(self.records())


def wire(docs: list[str]) -> bytes:
    """Documents as a NUL-delimited capture."""
    return b"".join(d.encode("utf-8") + b"\x00" for d in docs)


def canonical(record: dict) -> str:
    return json.dumps(record, sort_keys=True, separators=(",", ":"))


def record_hash(canon: str) -> int:
    return int.from_bytes(hashlib.blake2b(canon.encode("utf-8"), digest_size=16).digest(), "big")


def digest(canon_records) -> str:
    """Order-insensitive digest of a multiset of canonical records:
    the count and the sum of their 128-bit hashes modulo 2**128."""
    n = total = 0
    for c in canon_records:
        n += 1
        total = (total + record_hash(c)) % (1 << 128)
    return f"{n}:{total:032x}"


def _site_network(rng: random.Random, n_sites: int) -> list[tuple[str, str]]:
    weights = [1.0 / (k + 1) ** 1.2 for k in range(len(REGIONS))]
    sids = rng.sample(range(1, 100_000), n_sites)
    return [(rng.choices(REGIONS, weights)[0], str(sid)) for sid in sids]


def make_capture(seed: int, n_docs: int, sites_per_doc: int) -> Capture:
    """``n_docs`` snapshots of one seeded network of ``sites_per_doc``
    sites.  Document ``i`` reports the ``i``-th 5-minute window, so every
    (site, window) record is unique.  One document in every
    ``ODD_PERIOD`` is empty and another has malformed detector children,
    at seeded positions."""
    net_rng = random.Random(seed)
    sites = _site_network(net_rng, sites_per_doc)
    empty_at = net_rng.randrange(ODD_PERIOD)
    malformed_at = (empty_at + ODD_PERIOD // 2) % ODD_PERIOD
    docs: list[str] = []
    expected: list[list[str]] = []
    for i in range(n_docs):
        rng = random.Random(seed * 1_000_003 + i)
        if i % ODD_PERIOD == empty_at:
            docs.append(EMPTY_DOC)
            expected.append([])
            continue
        malformed = i % ODD_PERIOD == malformed_at
        window = FIRST_WINDOW + timedelta(seconds=INTERVAL_S * i)
        date = window.isoformat()
        epoch = int(window.timestamp())
        msgs: list[str] = []
        recs: list[str] = []
        for reg, sid in sites:
            n_det = rng.randint(20, 28)
            dets: list[str] = []
            counts: dict[str, str] = {}
            for did in range(1, n_det + 1):
                count = str(rng.randint(0, 250))
                if malformed and rng.random() < 0.1:
                    # One attribute missing: the projection drops the child.
                    if rng.random() < 0.5:
                        dets.append(f'<Detector count="{count}"/>')
                    else:
                        dets.append(f'<Detector Did="{did}"/>')
                    continue
                dets.append(f'<Detector Did="{did}" count="{count}"/>')
                counts[str(did)] = count
            msgs.append(
                f'<DetectorCountMessage reg="{reg}" Sid="{sid}" date="{date}">'
                f"<Detectors>{''.join(dets)}</Detectors></DetectorCountMessage>"
            )
            recs.append(
                canonical(
                    {
                        "region": reg,
                        "site_id": sid,
                        "collection_interval_secs": INTERVAL_S,
                        "collection_end_ts_plus_3m": epoch,
                        "detector_counts": counts,
                    }
                )
            )
        docs.append(
            '<TransisResponse error="false"><DetectorCountMessages>'
            + "".join(msgs)
            + "</DetectorCountMessages></TransisResponse>"
        )
        expected.append(recs)
    return Capture(docs, expected)
