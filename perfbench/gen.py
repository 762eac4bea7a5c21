"""Seeded generator of landing-zone events in the five reference source
shapes (CloudTrail, GSuite login, VPC flow, CloudFront, syslog).

The generator never imports the system under test: every expectation the
benchmark checks (row counts, goldens, per-lookup answers) comes from the
``Truth`` record written next to each raw line, derived here from what was
generated rather than from running the pipeline.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

#: the first hour of generated event time; every workload derives its hours
#: from it, so partition values are stable across seeds
BASE_TIME = datetime(2026, 8, 1, tzinfo=timezone.utc)

EVENTNAMES = ["ConsoleLogin", "CreateLogStream", "AssumeRole", "GetObject", "PutObject"]
SHAPES = ["cloudtrail", "gsuite", "vpc_flow", "cloudfront", "syslog"]
SHAPE_WEIGHTS = [0.25, 0.2, 0.25, 0.2, 0.1]
MALFORMED_SHARE = 0.01


@dataclass
class Truth:
    """What the generator knows about one line after it passes the pipeline."""

    bench_id: str
    shape: str
    ok: bool
    hour: tuple[str, str, str, str] = ("", "", "", "")
    utctimestamp: str = ""
    sourceip: str | None = None
    ips: list[str] = field(default_factory=list)
    eventname: str | None = None
    summary: str | None = None
    category: str | None = None


def _ip(rng: random.Random, pool: int) -> str:
    n = rng.randrange(pool)
    return f"10.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _hour(t: datetime) -> tuple[str, str, str, str]:
    return (f"{t.year}", f"{t.month:02d}", f"{t.day:02d}", f"{t.hour:02d}")


class EventGenerator:
    """Draws events from one ``random.Random``; ``bench_id`` values are
    ``<prefix><n>`` with ``n`` counting up across calls, so every line a
    run generates is unique."""

    def __init__(self, seed: int, prefix: str = "b", ip_pool: int = 2000, users: int = 300):
        self.rng = random.Random(seed)
        self.prefix = prefix
        self.ip_pool = ip_pool
        self.users = users
        self.next_id = 0

    def event(self, t: datetime, shape: str | None = None) -> tuple[str, Truth]:
        rng = self.rng
        shape = shape or rng.choices(SHAPES, SHAPE_WEIGHTS)[0]
        bench_id = f"{self.prefix}{self.next_id}"
        self.next_id += 1
        truth = Truth(bench_id, shape, True, _hour(t))
        build = getattr(self, f"_{shape}")
        payload = build(rng, t, truth)
        payload["bench_id"] = bench_id
        line = json.dumps(payload)
        if rng.random() < MALFORMED_SHARE:
            # a delivery cut mid-record: the pipeline must quarantine it
            line = line[: rng.randrange(5, len(line) - 5)]
            truth = Truth(bench_id, shape, False, truth.hour)
        return line, truth

    def _user(self, rng: random.Random) -> str:
        return f"user{rng.randrange(self.users)}@corp.example.com"

    def _cloudtrail(self, rng, t, truth):
        name = rng.choice(EVENTNAMES)
        service = rng.random() < 0.05
        ip = "config.amazonaws.com" if service else _ip(rng, self.ip_pool)
        user = self._user(rng).split("@")[0]
        truth.utctimestamp = _iso(t) + "+00:00"
        truth.eventname = name
        truth.sourceip = None if service else ip
        truth.ips = [] if service else [ip]
        return {
            "source": "cloudtrail",
            "tags": [],
            "details": {
                "eventversion": "1.08",
                "eventtype": "AwsApiCall",
                "eventsource": "signin.amazonaws.com" if name == "ConsoleLogin" else "s3.amazonaws.com",
                "eventname": name,
                "eventtime": _iso(t) + "Z",
                "awsregion": rng.choice(["us-east-1", "us-west-2", "eu-west-1"]),
                "sourceipaddress": ip,
                "useragent": "config.amazonaws.com" if service else "aws-cli/2.15",
                "eventid": f"{rng.getrandbits(64):016x}",
                "requestparameters": {"bucketname": f"bucket-{rng.randrange(50)}"},
                "useridentity": {
                    "type": "IAMUser",
                    "username": user,
                    "arn": f"arn:aws:iam::123456789012:user/{user}",
                    "accountid": "123456789012",
                },
            },
        }

    def _gsuite(self, rng, t, truth):
        user = self._user(rng)
        ip = _ip(rng, self.ip_pool)
        name = "login_failure" if rng.random() < 0.2 else "login_success"
        millis = rng.randrange(1000)
        truth.utctimestamp = f"{_iso(t)}.{millis:03d}000+00:00"
        truth.sourceip = ip
        truth.ips = [ip]
        truth.summary = f"{user} {name} from IP {ip}"
        truth.category = "authentication"
        return {
            "kind": "admin#reports#activity",
            "id": {
                "time": f"{_iso(t)}.{millis:03d}Z",
                "uniqueQualifier": str(rng.getrandbits(40)),
                "applicationName": "login",
                "customerId": "C0123abc",
            },
            "etag": f'"{rng.getrandbits(48):012x}"',
            "actor": {"email": user, "profileId": str(rng.getrandbits(32))},
            "ipAddress": ip,
            "events": [
                {
                    "type": "login",
                    "name": name,
                    "parameters": [
                        {"name": "login_type", "value": "google_password"},
                        {"name": "is_suspicious", "boolValue": rng.random() < 0.02},
                    ],
                }
            ],
        }

    def _vpc_flow(self, rng, t, truth):
        src, dst = _ip(rng, self.ip_pool), _ip(rng, self.ip_pool)
        truth.utctimestamp = _iso(t) + "+00:00"
        truth.sourceip = src
        truth.ips = [src] if src == dst else [src, dst]
        return {
            "version": 2,
            "account_id": "123456789012",
            "interface_id": f"eni-{rng.getrandbits(32):08x}",
            "srcaddr": src,
            "dstaddr": dst,
            "srcport": rng.randrange(1024, 65535),
            "dstport": rng.choice([22, 53, 443, 3389, 8080]),
            "protocol": 6,
            "packets": rng.randrange(1, 500),
            "bytes": rng.randrange(40, 1 << 20),
            "start": _iso(t),
            "end": _iso(t + timedelta(seconds=60)),
            "action": rng.choice(["ACCEPT", "REJECT"]),
            "log_status": "OK",
        }

    def _cloudfront(self, rng, t, truth):
        ip = _ip(rng, self.ip_pool)
        truth.utctimestamp = _iso(t) + "+00:00"
        truth.sourceip = ip
        truth.ips = [ip]
        return {
            "date": t.strftime("%Y-%m-%d"),
            "time": t.strftime("%H:%M:%S"),
            "x-edge-location": rng.choice(["SEA19-C1", "FRA2-C2", "NRT57-C3"]),
            "sc-bytes": rng.randrange(200, 50000),
            "c-ip": ip,
            "cs-method": rng.choice(["GET", "POST"]),
            "cs(Host)": "d1234.cloudfront.net",
            "cs-uri-stem": rng.choice(["/", "/wp-login.php", "/index.html", "/api/v1/items"]),
            "sc-status": rng.choice([200, 301, 404, 500]),
            "cs(User-Agent)": "Mozilla/5.0",
            "x-edge-result-type": "Hit",
            "x-edge-request-id": f"{rng.getrandbits(64):016x}",
            "cs-protocol": "https",
            "time-taken": round(rng.random(), 3),
            "x-forwarded-for": "-",
        }

    def _syslog(self, rng, t, truth):
        truth.utctimestamp = _iso(t) + "+00:00"
        return {
            "category": "monitoring",
            "severity": "INFO",
            "utctimestamp": truth.utctimestamp,
            "summary": f"user{rng.randrange(self.users)} : TTY=pts/{rng.randrange(9)} ; COMMAND=/bin/true",
            "source": "syslog",
            "tags": ["sample"],
            "details": {
                "processid": str(rng.randrange(1 << 16)),
                "program": "sudo",
                "hostname": f"host{rng.randrange(100)}.example.com",
            },
        }

    def batch(self, n: int, start: datetime, span_s: float) -> list[tuple[str, Truth]]:
        """``n`` events spread uniformly over ``[start, start + span_s)``."""
        return [
            self.event(start + timedelta(seconds=self.rng.random() * span_s))
            for _ in range(n)
        ]


def write_landing(directory: str, events: list[tuple[str, Truth]], files: int) -> None:
    """Write ``events`` as gzipped NDJSON landing files, about ``files`` of
    them: CloudTrail lines go to ``<digits>_cloudtrail_*.json.gz`` names (the
    reference's filename tagging), the other shapes to plain names.  Each
    file is written under a hidden name and renamed, so a streaming source
    never lists a half-written file."""
    os.makedirs(directory, exist_ok=True)
    trail = [line for line, t in events if t.shape == "cloudtrail"]
    rest = [line for line, t in events if t.shape != "cloudtrail"]
    n_trail = max(1, round(files * len(trail) / max(1, len(events))))
    groups = [("123456789012_cloudtrail_", trail, n_trail), ("events_", rest, max(1, files - n_trail))]
    written = 0
    for stem, lines, k in groups:
        for i in range(k):
            chunk = lines[i::k]
            if chunk:
                write_file(directory, f"{stem}{written:04d}.json.gz", chunk, gz=True)
                written += 1


def write_file(directory: str, name: str, lines: list[str], gz: bool) -> str:
    data = ("\n".join(lines) + "\n").encode()
    if gz:
        data = gzip.compress(data, compresslevel=1)
    hidden = os.path.join(directory, "." + name)
    with open(hidden, "wb") as f:
        f.write(data)
    final = os.path.join(directory, name)
    os.replace(hidden, final)
    return final
