"""Seeded CloudTrail log generator for the ``cloudtrail_replay`` workload.

:func:`write_cloudtrail_logs` writes gzipped CloudTrail log files
(``{"Records": [...]}``), about half wrapped in SNS ``Notification``
envelopes, and returns the per-``event_type`` record counts a lossless
pipeline must deliver. The counts are returned, not written next to the
files, so the program under test receives only the log files.

The multiset of per-file record counts does not depend on the seed; only
record values and file order do. Runs with different seeds therefore do
the same amount of work.
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def lognormal_counts(files: int, median: float, p90_ratio: float, rng: np.random.Generator) -> np.ndarray:
    """Records per file from a log-normal whose 90th percentile is
    ``p90_ratio`` times its median. The values are the distribution's
    quantiles at (i + 0.5) / files, so their multiset (and the total) is
    the same for every seed; only the order is drawn. ``p90_ratio=1``
    gives ``files`` files of ``median`` records each."""
    from statistics import NormalDist

    sigma = np.log(p90_ratio) / NormalDist().inv_cdf(0.9)
    z = np.array([NormalDist().inv_cdf((i + 0.5) / files) for i in range(files)])
    counts = np.maximum(1, np.round(median * np.exp(sigma * z))).astype(np.int64)
    return rng.permutation(counts)


def _record(i: int, rng: np.random.Generator, event_type: str) -> dict:
    """One CloudTrail-shaped record (~1 KB) carrying the fields the
    pipeline parses (event_id, ts, user_id, event_type, value, props)."""
    user = int(rng.integers(0, 1500))
    region = ("us-east-1", "us-west-2", "eu-west-1", "ap-south-1")[i % 4]
    return {
        "eventVersion": "1.08",
        "userIdentity": {
            "type": "IAMUser",
            "principalId": f"AIDA{user:016d}",
            "arn": f"arn:aws:iam::123456789012:user/user-{user}",
            "accountId": "123456789012",
            "accessKeyId": f"AKIA{int(rng.integers(0, 10**12)):016d}",
            "userName": f"user-{user}",
        },
        "eventTime": f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}Z",
        "eventSource": "s3.amazonaws.com",
        "eventName": ("GetObject", "PutObject", "ListBuckets", "AssumeRole", "DescribeInstances")[i % 5],
        "awsRegion": region,
        "sourceIPAddress": f"10.{i % 256}.{(i >> 8) % 256}.{int(rng.integers(0, 256))}",
        "userAgent": "aws-cli/2.15.0 Python/3.11.6 Linux/6.1 exe/x86_64 prompt/off command/s3.cp",
        "requestParameters": {
            "bucketName": f"logs-{region}",
            "key": f"AWSLogs/123456789012/CloudTrail/{region}/2024/01/{i:012d}.json.gz",
            "Host": f"logs-{region}.s3.{region}.amazonaws.com",
        },
        "responseElements": None,
        "requestID": f"{int(rng.integers(0, 2**63)):016X}",
        "eventID": f"{int(rng.integers(0, 2**63)):016x}-{i:012d}",
        "readOnly": bool(i % 2),
        "eventType": "AwsApiCall",
        "managementEvent": False,
        "recipientAccountId": "123456789012",
        "event_id": i,
        "ts": f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:00",
        "user_id": user,
        "event_type": event_type,
        "value": round(float(rng.exponential(50.0)), 2),
        "props": f'{{"k": {int(rng.integers(0, 100))}}}',
    }


def write_cloudtrail_logs(
    out: str,
    seed: int,
    files: int,
    median_records: int,
    p90_ratio: float = 10.0,
    sns_share: float = 0.5,
) -> dict[str, int]:
    """Write ``files`` gzipped CloudTrail log files into ``out`` with
    increasing mtimes (so file-stream discovery order is fixed) and return
    the expected delivered count per ``event_type``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = lognormal_counts(files, median_records, p90_ratio, rng)
    sns = set(rng.choice(files, int(round(files * sns_share)), replace=False).tolist())
    expected = dict.fromkeys(_EVENT_TYPES, 0)
    next_id = 0
    mtime = 1_700_000_000
    for f, n in enumerate(counts):
        types = rng.integers(0, len(_EVENT_TYPES), int(n))
        records = []
        for t in types:
            et = _EVENT_TYPES[t]
            expected[et] += 1
            records.append(_record(next_id, rng, et))
            next_id += 1
        body = json.dumps({"Records": records}, separators=(",", ":"))
        if f in sns:
            body = json.dumps({"Type": "Notification", "Message": body}, separators=(",", ":"))
        path = os.path.join(out, f"ct_{f:04d}.json.gz")
        with gzip.open(path, "wt", compresslevel=1) as fh:
            fh.write(body)
        os.utime(path, (mtime + f, mtime + f))
    return {k: v for k, v in expected.items() if v}
