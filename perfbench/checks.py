"""Correctness checks for the benchmark's units; all of them run untimed.

Contacts artifacts: the cleaned TSV parses and its dedup key is unique, the
change log and validation report parse, every change-log entry fills a cell
that was empty in the generated master, and for the default seed the
canonical artifact digests equal the ones recorded from the seed commit.

Registry results: each query's parquet dump equals its DuckDB oracle twin,
as the repository's gate, tools/check_oracle.py, compares them.

Each check returns a list of failure messages; empty means correct.
"""
import contextlib
import csv
import hashlib
import io
import json
import os
import re
import sys

# missing-value rule of graft.functions.Cleaning.isMissing
SENTINELS = {"", "nan", "None", "NaN", "N/A", "n/a", "NA", "#N/A", "NULL",
             "null", "<NA>"}

# canonical artifact digests (see digests()) of the seed commit's program
# on DEFAULT_SEED at the contacts_rest input size
DEFAULT_SEED = 1
SEED_DIGESTS = {
    "cleaned_contacts.tsv":
        "a5aa05b7b01ca64ccff497c20e2ffcc6d1bbf5c5d392f8ba3f776d3586b2f98f",
    "fill_missing_log.json":
        "ad03014471ff0a7fbc5885cca43b605d46f9dff3460cae6ae270cb0a9942c7bb",
    "validation_errors.json":
        "c69b1ba7f337be37b37f33e70ab645e33271b0280ed5b6bac631e2a7f1bcefb4",
}

CLEANED, CHANGELOG, VALIDATION = (
    "cleaned_contacts.tsv", "fill_missing_log.json", "validation_errors.json")


def missing(v):
    return v is None or v.strip() in SENTINELS


def read_tsv(text):
    rows = list(csv.reader(io.StringIO(text), delimiter="\t", quotechar='"',
                           doublequote=True, strict=True))
    return rows[0], rows[1:]


def _norm_phone(v):
    d = re.sub(r"[^0-9]", "", v or "")
    return d[-10:] if len(d) >= 10 else d


def dedup_key(email, fullname, mobile):
    """graft.functions.Cleaning.dedupKey over cleaned values."""
    if not missing(email):
        return email.strip().lower()
    name = "" if missing(fullname) else re.sub(r"\s+", " ", fullname).strip().lower()
    phone = "" if missing(mobile) else _norm_phone(mobile)
    return name + "-" + phone


def digests(texts):
    """Order-insensitive digests of the three artifacts: row order after a
    shuffle is not part of the contract, content is."""
    header, rows = read_tsv(texts[CLEANED])
    lines = sorted("\t".join(r) for r in rows)
    out = {CLEANED: hashlib.sha256(
        ("\t".join(header) + "\n" + "\n".join(lines)).encode()).hexdigest()}
    for name in (CHANGELOG, VALIDATION):
        recs = sorted(json.dumps(r, sort_keys=True) for r in json.loads(texts[name]))
        out[name] = hashlib.sha256("\n".join(recs).encode()).hexdigest()
    return out


def load_master(path):
    with open(path, encoding="utf-8") as f:
        header, rows = read_tsv(f.read())
    return [h.lower() for h in header], rows


def check_contacts(texts, master, seed):
    """texts: artifact name -> content. master: (lowercased header, rows).
    Returns (failures, counts)."""
    fails, counts = [], {}
    try:
        header, rows = read_tsv(texts[CLEANED])
        cols = {h.lower(): i for i, h in enumerate(header)}
        bad = [i for i, r in enumerate(rows) if len(r) != len(header)]
        if bad:
            fails.append("cleaned TSV: %d rows with a wrong field count" % len(bad))
        else:
            keys = [dedup_key(r[cols["email"]], r[cols["fullname"]],
                              r[cols["mobile"]]) for r in rows]
            if len(set(keys)) != len(keys):
                fails.append("cleaned TSV: %d duplicate dedup keys"
                             % (len(keys) - len(set(keys))))
        counts["rows.cleaned"] = len(rows)
    except Exception as e:  # noqa: BLE001 - any parse error is a failure
        fails.append("cleaned TSV does not parse: %s" % e)

    mh, mrows = master
    mcol = {h: i for i, h in enumerate(mh)}
    try:
        log = json.loads(texts[CHANGELOG])
        seen = set()
        for e in log:
            r, f = int(e["row"]), e["field"].lower()
            if (r, f) in seen:
                fails.append("change log fills row %d %s twice" % (r, f))
                break
            seen.add((r, f))
            if not (1 <= r <= len(mrows)) or f not in mcol:
                fails.append("change log names no master cell: %r" % e)
                break
            if not missing(mrows[r - 1][mcol[f]]):
                fails.append("change log overwrites a present cell: %r" % e)
                break
            if missing(e["new_value"]):
                fails.append("change log fills an empty value: %r" % e)
                break
        counts["rows.changelog"] = len(log)
    except Exception as e:  # noqa: BLE001
        fails.append("change log does not parse: %s" % e)
    try:
        report = json.loads(texts[VALIDATION])
        if not all({"row", "name", "errors"} <= set(r) for r in report):
            fails.append("validation report lacks row/name/errors keys")
        counts["rows.validation_errors"] = len(report)
    except Exception as e:  # noqa: BLE001
        fails.append("validation report does not parse: %s" % e)

    if not fails and seed == DEFAULT_SEED:
        got = digests(texts)
        for name, want in SEED_DIGESTS.items():
            if got[name] != want:
                fails.append("%s digest %s differs from the seed commit's %s"
                             % (name, got[name][:12], want[:12]))
    return fails, counts


def fillable_missing_rows(master):
    """Master rows missing a field Fill can fill (the name, email and phone
    roles that source files share with the master)."""
    mh, mrows = master
    idx = [mh.index(c) for c in ("firstname", "lastname", "fullname", "email",
                                 "mobile")]
    return sum(1 for r in mrows if any(missing(r[i]) for i in idx))


# --- registry ---------------------------------------------------------------

def check_registry(data_dir, dump_dir):
    """One registry pass' parquet dumps against their DuckDB oracle twins,
    through the repository's own gate, tools/check_oracle.py (its
    subset mode: the pass runs a subset of the registry)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    os.environ["GRAFT_ALLOW_SUBSET"] = "1"
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        rc = check_oracle.main(data_dir, dump_dir)
    lines = report.getvalue().splitlines()
    print("[perfbench] oracle check: %s" % lines[-1], file=sys.stderr)
    fails = [l for l in lines if l.startswith("FAIL")]
    if rc != 0 and not fails:
        fails.append("tools/check_oracle.py exited %d" % rc)
    return fails
