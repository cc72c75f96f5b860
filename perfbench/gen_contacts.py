"""Deterministic contacts generator: a master CRM export plus source files.

The shapes follow FIXTURES.md sections 1-6: the 88-column master (lowercase
or uppercase header), Mailchimp exports A/B/C, the 8-column lead list, and
one headerless lead list that role resolution must skip.  Everything is
drawn from ``random.Random(seed)``, so one seed gives byte-identical files.

Controlled properties (recorded in the returned ``props``):
  * source overlap: share of source rows that are master persons (~70%)
  * missing email / missing mobile in the master (~30% each, independent)
  * planted duplicates: master rows that repeat a person (~3%)
  * Zipf-like full-name popularity, p(rank) ~ rank^-0.5 over ~4.3M names,
    so the most common full name holds ~0.02% of rows and Fill's name join
    stays near-linear.

Usage: python3 gen_contacts.py <out_dir> <seed> [master_rows] [source_rows]
"""
import json
import os
import random
import sys

MASTER_COLS = (
    "seqno salutation firstname lastname title mobile directphone directfax "
    "homephone email notes address1 address2 address3 address4 deladdr5 "
    "deladdr6 post_code deladdr1 deladdr2 deladdr3 deladdr4 isactive "
    "advertsource salesno company_accno company_acctype msn_id yahoo_id "
    "skype_id address5 last_updated").split() + [
    "sub%d" % i for i in range(1, 27)] + (
    "x_region sync_contacts linkedin twitter facebook optout_emarketing "
    "campaign_wave_seqno latitude longitude geocode_status x_xs_allowlogin "
    "x_xs_clientadmin x_xs_login x_xs_password x_xs_sendclientadmin "
    "x_xs_resetpassword x_xs_sorttasksby x_tt_createtasks x_tt_pocontact "
    "x_store x_email2 x_email3 x_phone1 x_phone2 x_phone3 x_phone4 x_phone5 "
    "x_tt_extension fullname name").split()
assert len(MASTER_COLS) == 88

MC_COMMON = ["Email Address", "First Name", "Last Name", "Address",
             "Phone Number", "Mobile Number", "Store/Organisation", "Title",
             "Industry", "Sales Rep", "Purchase Option", "Group Type", "ID",
             "Brand", "MEMBER_RATING", "OPTIN_TIME", "OPTIN_IP",
             "CONFIRM_TIME", "CONFIRM_IP", "LATITUDE", "LONGITUDE", "GMTOFF",
             "DSTOFF", "TIMEZONE", "CC", "REGION"]
MC_A = MC_COMMON + ["CLEAN_TIME", "CLEAN_CAMPAIGN_TITLE", "CLEAN_CAMPAIGN_ID",
                    "LEID", "EUID", "NOTES", "TAGS"]
MC_B = MC_COMMON + ["LAST_CHANGED", "LEID", "EUID", "NOTES", "TAGS"]
MC_C = MC_COMMON + ["UNSUB_TIME", "UNSUB_CAMPAIGN_TITLE", "UNSUB_CAMPAIGN_ID",
                    "UNSUB_REASON", "UNSUB_REASON_OTHER", "LEID", "EUID",
                    "NOTES", "TAGS"]
LEADS = ["First Name", "Last Name", "Job Title", "Phone", "Email", "Mobile",
         "Full Name", "Company Name"]
assert (len(MC_A), len(MC_B), len(MC_C)) == (33, 31, 35)

# first x last = ~4.29M distinct full names; under the continuous rank^-0.5
# law the top name's share is (sqrt(2) - 1) / (NAME_POOL - 1) ~= 0.0002
NAME_POOL = 2072
OVERLAP = 0.70
MISSING_EMAIL = 0.30
MISSING_MOBILE = 0.30
DUP_RATE = 0.03

_ON = "b c d f g h j k l m n p r s t v w z".split()
_NU = "a e i o u ai ea ou".split()
_CO = "n r l s th nd x".split()
TITLES = ["Director", "Manager", "Owner", "Buyer", "Chef", "Pharmacist",
          "Store Manager", "Accountant", ""]
DOMAINS = ["example.com", "mail.test", "shop.example", "corp.test",
           "retail.example"]


def _names(rng, n):
    """n distinct pronounceable names, e.g. 'Kalomith'."""
    out, seen = [], set()
    while len(out) < n:
        parts = [rng.choice(_ON) + rng.choice(_NU)
                 for _ in range(rng.randint(1, 3))]
        w = ("".join(parts) + rng.choice(_CO)).capitalize()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_rank(rng, k):
    """Rank in [0, k) with p(r) ~ (r+1)^-0.5 (inverse of the continuous CDF)."""
    u = rng.random()
    x = (1.0 + u * (k ** 0.5 - 1.0)) ** 2
    return min(int(x), k) - 1


class _People:
    def __init__(self, rng):
        self.rng = rng
        self.first = _names(rng, NAME_POOL)
        self.last = _names(rng, NAME_POOL)
        self.k = NAME_POOL * NAME_POOL
        self.n = 0

    def new(self):
        rng = self.rng
        r = _zipf_rank(rng, self.k)
        # injective rank -> (first, last); the multiplier spreads the popular
        # ranks over both pools so no single surname dominates
        first = self.first[r % NAME_POOL]
        last = self.last[(r // NAME_POOL + r * 7919) % NAME_POOL]
        self.n += 1
        pid = self.n
        return {
            "first": first, "last": last,
            "email": "%s.%s%d@%s" % (first.lower(), last.lower(), pid,
                                     rng.choice(DOMAINS)),
            "mobile": "04%08d" % rng.randrange(10 ** 8),
            "title": rng.choice(TITLES),
            "company": "%s %s" % (rng.choice(self.last),
                                  rng.choice(["Foods", "Pharmacy", "Store",
                                              "Traders", "Group"])),
            "post_code": "%04d" % rng.randrange(800, 7999),
        }


def _ts(rng, year0=2008, year1=2019, millis=True):
    s = "%04d-%02d-%02d %02d:%02d:%02d" % (
        rng.randint(year0, year1), rng.randint(1, 12), rng.randint(1, 28),
        rng.randrange(24), rng.randrange(60), rng.randrange(60))
    return s + ".000" if millis else s


def _yn(rng):
    return rng.choice(["Y", "N", "", "N"])


def _master_row(rng, seq, p, email, mobile):
    row = dict.fromkeys(MASTER_COLS, "")
    row.update({
        "seqno": str(seq), "salutation": rng.choice(["Mr", "Ms", "Dr", ""]),
        "firstname": p["first"], "lastname": p["last"], "title": p["title"],
        "mobile": mobile, "email": email,
        "directphone": rng.choice(["", "", "(07) %04d %04d" % (
            rng.randrange(10 ** 4), rng.randrange(10 ** 4))]),
        "address1": "%d %s St" % (rng.randint(1, 300), p["last"]),
        "post_code": p["post_code"], "isactive": _yn(rng),
        "salesno": str(rng.randint(1, 40)),
        "company_accno": str(rng.randint(1000, 9999)),
        "last_updated": _ts(rng), "optout_emarketing": _yn(rng),
        "latitude": "0.0", "longitude": "0.0",
        "fullname": "%s %s" % (p["first"], p["last"]),
        "name": p["company"],
    })
    for i in range(1, 27):
        row["sub%d" % i] = _yn(rng)
    return row


def _phone_fmt(rng, mobile):
    """The same number as an export would print it; normalizes back."""
    m = mobile
    return rng.choice([m, "%s %s %s" % (m[:4], m[4:7], m[7:]),
                       "(%s) %s %s" % (m[:2], m[2:6], m[6:])])


def _mailchimp_row(rng, cols, p):
    row = dict.fromkeys(cols, "")
    jam = rng.random() < 0.05  # first+last jammed into First Name
    row.update({
        "Email Address": p["email"],
        "First Name": "%s %s" % (p["first"], p["last"]) if jam else p["first"],
        "Last Name": "" if jam else p["last"],
        "Phone Number": _phone_fmt(rng, p["mobile"]),
        "Mobile Number": p["mobile"] if rng.random() < 0.5 else "",
        "Store/Organisation": p["company"], "Title": p["title"],
        "ID": str(rng.randrange(10 ** 6)), "MEMBER_RATING": str(rng.randint(1, 5)),
        "OPTIN_TIME": _ts(rng, 2015, 2019, False),
        "CONFIRM_TIME": _ts(rng, 2015, 2019, False),
        "LATITUDE": "'-%d.%07d" % (rng.randint(10, 40), rng.randrange(10 ** 7)),
        "REGION": rng.choice(["qld", "nsw", "vic", "QLD"]),
        "TAGS": '"""%s"",""EXO"""' % rng.choice(["FOODWORKS", "IGA", "SPAR"]),
    })
    for c in ("CLEAN_TIME", "LAST_CHANGED", "UNSUB_TIME"):
        if c in row:
            row[c] = _ts(rng, 2018, 2020, False)
    return row


def _lead_row(rng, p):
    if rng.random() < 0.02:  # near-empty row, as in the reference's 4.tsv
        return {c: (" " if c == "First Name" else "") for c in LEADS}
    return {
        "First Name": p["first"], "Last Name": p["last"],
        "Job Title": p["title"],
        "Phone": _phone_fmt(rng, p["mobile"]) if rng.random() < 0.6 else "",
        "Email": p["email"] if rng.random() < 0.7 else "",
        "Mobile": p["mobile"] if rng.random() < 0.5 else "",
        "Full Name": "%s %s " % (p["first"], p["last"]),
        "Company Name": p["company"],
    }


def _write(path, cols, rows, header=True):
    with open(path, "w", encoding="utf-8", newline="") as f:
        if header:
            f.write("\t".join(cols) + "\n")
        for r in rows:
            f.write("\t".join(r[c] for c in cols) + "\n")


def generate(out_dir, seed, master_rows, source_rows):
    """Write master.tsv and sources/{1..5}.tsv; return the realized props."""
    rng = random.Random(seed)
    people = _People(rng)
    os.makedirs(os.path.join(out_dir, "sources"), exist_ok=True)

    persons, rows = [], []
    miss_e = miss_m = dups = 0
    while len(rows) < master_rows:
        if persons and rng.random() < DUP_RATE:
            # a second CRM row for a known person: same identity, its own
            # (possibly less complete) detail columns
            p, email, mobile = persons[rng.randrange(len(persons))]
            dups += 1
        else:
            p = people.new()
            email = "" if rng.random() < MISSING_EMAIL else p["email"]
            mobile = "" if rng.random() < MISSING_MOBILE else p["mobile"]
            persons.append((p, email, mobile))
        miss_e += email == ""
        miss_m += mobile == ""
        rows.append(_master_row(rng, len(rows) + 1, p, email, mobile))
    upper = seed % 2 == 1
    header = [c.upper() if upper else c for c in MASTER_COLS]
    with open(os.path.join(out_dir, "master.tsv"), "w", encoding="utf-8",
              newline="") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r[c] for c in MASTER_COLS) + "\n")

    def src_people(n):
        out, hits = [], 0
        for _ in range(n):
            if rng.random() < OVERLAP:
                out.append(persons[rng.randrange(len(persons))][0])
                hits += 1
            else:
                out.append(people.new())
        return out, hits

    overlap_hits = 0
    for name, cols in (("1.tsv", MC_B), ("2.tsv", MC_C), ("3.tsv", MC_A)):
        ps, hits = src_people(source_rows)
        overlap_hits += hits
        _write(os.path.join(out_dir, "sources", name), cols,
               [_mailchimp_row(rng, cols, p) for p in ps])
    ps, hits = src_people(source_rows)
    overlap_hits += hits
    _write(os.path.join(out_dir, "sources", "4.tsv"), LEADS,
           [_lead_row(rng, p) for p in ps])
    # headerless: name, organisation, email, 2 empty -> skipped by roles
    ps, _ = src_people(max(10, source_rows // 50))
    _write(os.path.join(out_dir, "sources", "5.tsv"), list(range(5)),
           [{0: "%s %s" % (p["first"], p["last"]), 1: p["company"],
             2: p["email"], 3: "", 4: ""} for p in ps], header=False)

    names = {}
    for r in rows:
        names[r["fullname"]] = names.get(r["fullname"], 0) + 1
    props = {
        "seed": seed, "master_rows": master_rows, "source_rows": source_rows,
        "source_files": 5, "header_case": "upper" if upper else "lower",
        "source_overlap": round(overlap_hits / (4.0 * source_rows), 4),
        "missing_email": round(miss_e / master_rows, 4),
        "missing_mobile": round(miss_m / master_rows, 4),
        "planted_duplicates": round(dups / master_rows, 4),
        "top_name_share": round(max(names.values()) / master_rows, 5),
        "distinct_names": len(names),
    }
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    return props


if __name__ == "__main__":
    a = sys.argv[1:]
    print(json.dumps(generate(a[0], int(a[1]),
                              int(a[2]) if len(a) > 2 else 10000,
                              int(a[3]) if len(a) > 3 else 2500)))
