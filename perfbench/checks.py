"""Output checks and small statistics helpers for the benchmark."""
import collections
import csv
import glob
import os


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between order
    statistics (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def read_error_reports(pass_dir):
    """Rows of every ``<sheet>_Errors.csv`` the ErrorWriter wrote:
    {file name: [row dicts]}. Each report is a directory of part files."""
    reports = {}
    for report in sorted(glob.glob(os.path.join(pass_dir, "*_Errors.csv"))):
        rows = []
        for part in sorted(glob.glob(os.path.join(report, "part-*"))):
            with open(part, newline="") as f:
                rows.extend(csv.DictReader(f, escapechar="\\"))
        reports[os.path.basename(report)] = rows
    return reports


def check_submission(manifest, pass_dir, written, severity, status):
    """Problems found in one validated submission (empty list = correct).

    - error rows per (sheet, column, Message_Type) equal the manifest;
    - the ErrorWriter's returned counts equal the data lines on disk;
    - StatusDerivation's counts and statuses agree with the manifest.
    """
    problems = []
    reports = read_error_reports(pass_dir)
    got = collections.Counter()
    for name, rows in reports.items():
        for r in rows:
            got["|".join((r["CSV_Sheet_Name"], r["Column_Name"], r["Message_Type"]))] += 1
        if written.get(name) != len(rows):
            problems.append(f"{name}: ErrorWriter returned {written.get(name)}, "
                            f"{len(rows)} data lines on disk")
    for name in set(written) - set(reports):
        problems.append(f"{name}: returned by ErrorWriter but not on disk")
    expected = collections.Counter(manifest["expected"])
    for key in sorted(set(got) | set(expected)):
        if got[key] != expected[key]:
            problems.append(f"{key}: {got[key]} error rows, manifest says {expected[key]}")
    sev = collections.Counter()
    for key, n in expected.items():
        sheet, _, kind = key.split("|")
        sev[f"{sheet}|{kind}"] += n
    if dict(sev) != {k: v for k, v in severity.items() if v}:
        problems.append("StatusDerivation.severityCounts disagrees with the manifest")
    if [list(s) for s in status] != manifest["status"]:
        problems.append("StatusDerivation.derive disagrees with the manifest")
    return problems
