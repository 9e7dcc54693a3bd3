"""Output checks for the Singer workloads.

Every check returns a list of failure messages; an empty list means the
output matches the generator's manifest:

- per-stream Parquet row counts equal the manifest's RECORD counts;
- the typed rows equal the source rows after the documented coercions
  (order-independent checksum, see ``gen.row_hash``);
- ``job_metrics.json`` carries the same per-stream counts;
- the STATE echo equals the last STATE value of the input.

The micro-batch output (one ``_batch=N`` directory per trigger under each
stream) is read as the union of its batches, so it must equal the batch
ingest of the same lines.
"""

import glob
import json
import os

import pyarrow.parquet as pq

import gen


def stream_dirs(out_dir):
    """Map stream -> its Parquet dataset directory under ``out_dir``."""
    found = {}
    for path in glob.glob(os.path.join(out_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        # batch output is <stream>-<YYYYMMDDTHHMMSS>.parquet, micro-batch
        # output <stream>.parquet
        stream = name.rsplit("-", 1)[0] if "-" in name else name
        found[stream] = path
    return found


def typed_rows(path, stream):
    """All rows of the data files under ``path``, including every
    ``_batch=N`` directory, as tuples in the stream's column order."""
    names = [n for n, _ in gen.COLUMNS[stream]]
    rows = []
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                table = pq.read_table(os.path.join(d, f))
                missing = [n for n in names if n not in table.column_names]
                if missing:
                    raise ValueError("%s lacks columns %s" % (f, missing))
                rows += zip(*(table.column(n).to_pylist() for n in names))
    return rows


def check_output(out_dir, manifest):
    failures = []
    dirs = stream_dirs(out_dir)
    want = manifest["record_counts"]
    if sorted(dirs) != sorted(want):
        failures.append("streams written %s != expected %s" % (sorted(dirs), sorted(want)))
    for stream in sorted(set(dirs) & set(want)):
        try:
            rows = typed_rows(dirs[stream], stream)
        except (OSError, ValueError) as e:
            failures.append("%s: unreadable output: %s" % (stream, e))
            continue
        if len(rows) != want[stream]:
            failures.append("%s: %d rows != %d records" % (stream, len(rows), want[stream]))
        total = 0
        for r in rows:
            total = (total + gen.row_hash(r)) % (1 << 64)
        if str(total) != manifest["checksums"][stream]:
            failures.append("%s: typed rows differ from the source after coercion" % stream)
    failures += check_metrics(out_dir, manifest)
    return failures


def check_metrics(out_dir, manifest):
    path = os.path.join(out_dir, "job_metrics.json")
    try:
        with open(path) as f:
            got = json.load(f)["recordCount"]
    except (OSError, ValueError, KeyError) as e:
        return ["job_metrics.json unreadable: %s" % e]
    if got != manifest["record_counts"]:
        return ["job_metrics.json %s != manifest %s" % (got, manifest["record_counts"])]
    return []


def check_state(echo, manifest):
    """``echo`` is the STATE value the target emitted, as JSON text."""
    try:
        got = json.loads(echo)
    except ValueError:
        return ["STATE echo is not JSON: %r" % echo[:200]]
    if got != manifest["last_state"]:
        return ["STATE echo %s != last STATE %s" % (echo[:200], manifest["last_state"])]
    return []
