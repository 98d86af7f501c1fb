"""Reference-shaped baseline: one thread, gzip -> csv.DictReader -> the
reference's field typers (fieldtypers.py), over the same archives the
pipeline ingests. It re-measures the paper's comparison on identical
files; its rate is reported but not gated."""
import csv
import gzip
import io
import time
from datetime import datetime

TIMESTAMP_FIELDS = ("timestamp_request", "timestamp_response")
FLOAT_FIELDS = ("asn_request", "asn_response", "asn_arecord")


def timestamp_typer(v):
    try:
        return datetime.strptime(v, "%Y-%m-%d %H:%M:%S.%f")
    except ValueError:
        return None


def float_typer(v):
    try:
        return float(v)
    except ValueError:
        return None


TYPERS = {**{f: timestamp_typer for f in TIMESTAMP_FIELDS},
          **{f: float_typer for f in FLOAT_FIELDS}}


def load(path):
    """Typed rows of one archive, and its count of non-empty values the
    typers turned into None."""
    rows, rejects = [], 0
    with gzip.open(path, "rb") as raw:
        for rec in csv.DictReader(io.TextIOWrapper(raw, encoding="utf-8"), delimiter=";"):
            out = {}
            for k, v in rec.items():
                if v == "":
                    out[k] = None
                elif k in TYPERS:
                    out[k] = TYPERS[k](v)
                    rejects += out[k] is None
                else:
                    out[k] = v
            rows.append(out)
    return rows, rejects


def run(paths):
    """Rows per second over `paths`, with total rows and rejects."""
    t0 = time.perf_counter()
    n = rejects = 0
    for p in paths:
        rows, r = load(p)
        n += len(rows)
        rejects += r
    return n / (time.perf_counter() - t0), n, rejects
