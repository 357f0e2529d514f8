"""Seeded asset-event stream for the ingest workload.

The stream mirrors what the inventory consumer sees: keyed messages
``{seq, ts, key, value, metadata}`` (the shape ``plans.temporal.RAW_SCHEMA``
decodes), refreshes carrying a JSON payload and tombstones carrying none.

- A preload refreshes every asset once, so the state starts with the whole
  asset universe live.
- Micro-batches draw their asset keys Zipf-skewed over that universe; a share
  of them are tombstones, some refreshes carry AWS-account annotations (each
  creates or refreshes a ``parent_of`` edge to the account, and a later
  tombstone of the asset expires that edge), and some assets are owned by a
  second team, so a tombstone from one team does not always expire the asset.
- A small share of messages fail the semver gate and are dropped by both the
  engine and the interpreter.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import random

AWS_ANNOTATION_KEY = "autodiscovery/security/aws-account"
ASSET_TYPES = ("Hostname", "DockerImage", "WebAddress", "IP")
T0 = datetime.datetime(2024, 3, 1)


@dataclasses.dataclass(frozen=True)
class EventParams:
    n_assets: int = 2000
    n_teams: int = 50
    n_accounts: int = 100
    second_owner_share: float = 0.15
    zipf_s: float = 1.1
    tombstone_share: float = 0.2
    annotation_share: float = 0.3
    bad_version_share: float = 0.01
    batch_events: int = 500
    max_batches: int = 40


@dataclasses.dataclass(frozen=True)
class Asset:
    atype: str
    ident: str
    teams: tuple[str, ...]
    account: str  # 12-digit account id of the asset's AWS annotation


def universe(rng: random.Random, p: EventParams) -> list[Asset]:
    assets = []
    for i in range(p.n_assets):
        atype = ASSET_TYPES[i % len(ASSET_TYPES)]
        teams = [f"team-{rng.randrange(p.n_teams):02d}"]
        if rng.random() < p.second_owner_share:
            other = f"team-{rng.randrange(p.n_teams):02d}"
            if other != teams[0]:
                teams.append(other)
        account = f"{rng.randrange(p.n_accounts) * 7919 + 100000000000:012d}"
        assets.append(Asset(atype, f"{atype.lower()}-{i:05d}.example.com", tuple(teams), account))
    return assets


def _message(seq: int, team: str, asset: Asset, tombstone: bool, annotate: bool,
             version: str, rng: random.Random) -> dict:
    meta = [
        {"key": "version", "value": version},
        {"key": "type", "value": asset.atype},
        {"key": "identifier", "value": asset.ident},
    ]
    value = None
    if not tombstone:
        annotations = []
        if annotate:
            account = asset.account
            if rng.random() < 0.5:
                account = f"arn:aws:iam::{account}:root"
            annotations.append({"Key": AWS_ANNOTATION_KEY, "Value": account})
        value = json.dumps(
            {
                "Id": f"asset-{asset.ident}",
                "Team": {"Id": team, "Name": f"Team {team}", "Description": "", "Tag": ""},
                "Alias": "",
                "Rolfp": "R:0/O:0/L:0/F:0/P:0+S:0",
                "Scannable": True,
                "AssetType": asset.atype,
                "Identifier": asset.ident,
                "Annotations": annotations,
            }
        )
    return {
        "seq": seq,
        "ts": T0 + datetime.timedelta(seconds=seq),
        "key": f"{team}/asset-{asset.ident}",
        "value": value,
        "metadata": meta,
    }


class EventStream:
    """Preload plus ``max_batches`` micro-batches, all from one seed."""

    def __init__(self, seed: int, params: EventParams):
        self.params = params
        rng = random.Random(seed)
        self.assets = universe(rng, params)
        seq = 0
        order = list(range(params.n_assets))
        rng.shuffle(order)
        self.preload: list[dict] = []
        for i in order:
            a = self.assets[i]
            for team in a.teams:
                seq += 1
                self.preload.append(
                    _message(seq, team, a, False, rng.random() < params.annotation_share, "v0.2.0", rng)
                )
        # Zipf-skewed popularity over a seed-dependent ranking of the assets
        rank = list(range(params.n_assets))
        rng.shuffle(rank)
        weights = [1.0 / (r + 1) ** params.zipf_s for r in range(params.n_assets)]
        self.batches: list[list[dict]] = []
        for _ in range(params.max_batches):
            picks = rng.choices(rank, weights=weights, k=params.batch_events)
            batch = []
            for i in picks:
                seq += 1
                a = self.assets[i]
                version = "v1.0.0" if rng.random() < params.bad_version_share else "v0.2.0"
                batch.append(
                    _message(
                        seq,
                        rng.choice(a.teams),
                        a,
                        rng.random() < params.tombstone_share,
                        rng.random() < params.annotation_share,
                        version,
                        rng,
                    )
                )
            self.batches.append(batch)
        self.rank = rank
        self.weights = weights


def write_jsonl(messages: list[dict], path: str) -> None:
    """One message per line, the file format ``run_file_stream`` consumes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for m in messages:
            f.write(json.dumps({**m, "ts": m["ts"].isoformat()}) + "\n")
