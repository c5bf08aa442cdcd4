"""Seeded generator of Oracle-shaped XML audit files.

Each file is named `<instance>_ora_<pid>_<seq>.xml` and holds one
`<Audit>` document with 1-200 `<AuditRecord>` elements carrying the
section 1.2 fields, one element per line. Sizes are mostly 2-64 KB
(log-uniform); a `big_frac` share sits just under the 1 MB cap, and a
`trunc_frac` share is cut before the `</Audit>` terminator, as a writer
that died mid-file leaves it. A `live_frac` share of the names carries
`live_pid` (the caller's own process) so a /proc lock probe has real
descriptors to scan; the other PIDs lie above any kernel pid_max and are
never alive. The same seed gives the same contents and names, up to the
live PID.
"""
import os
import random

INSTANCES = ["orcl", "prod", "fin", "hr"]
USERS = ["AP", "AR", "GL", "HR", "SCOTT", "SYS", "APPS"]
OBJECTS = ["AP_INVOICES_ALL", "AR_RECEIPTS", "GL_JE_LINES", "PER_ALL_PEOPLE", "EMP", "DEPT"]
VERBS = ["SELECT * FROM", "UPDATE", "DELETE FROM", "INSERT INTO"]
HEADER = ('<?xml version="1.0" encoding="UTF-8"?>\n'
          '<Audit xmlns="http://xmlns.oracle.com/oracleas/schema/dbserver_audittrail-11_2.xsd">\n'
          '<Version>11.2</Version>\n')
FOOTER = "</Audit>\n"
MAX_RECORDS = 200
CAP_BYTES = 1 << 20


def _record(rng, pid, sql_pad):
    user, obj = rng.choice(USERS), rng.choice(OBJECTS)
    sql = f"{rng.choice(VERBS)} {user}.{obj} WHERE ID = :b1" + (" AND X = :b2" * sql_pad)
    ts = (f"2026-08-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
          f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}.{rng.randint(0, 999999):06d}Z")
    return ("<AuditRecord>"
            f"<Audit_Type>{rng.randint(1, 4)}</Audit_Type>"
            f"<Session_Id>{rng.randint(1, 10**7)}</Session_Id>"
            f"<StatementId>{rng.randint(1, 500)}</StatementId>"
            f"<EntryId>{rng.randint(1, 500)}</EntryId>"
            f"<Extended_Timestamp>{ts}</Extended_Timestamp>"
            f"<DB_User>{user}</DB_User><OS_User>oracle</OS_User>"
            f"<Userhost>apphost{rng.randint(1, 20):02d}</Userhost>"
            f"<OS_Process>{pid}</OS_Process>"
            f"<Instance_Number>{rng.randint(1, 4)}</Instance_Number>"
            f"<Action>{rng.randint(1, 110)}</Action>"
            f"<Returncode>{rng.choice([0, 0, 0, 0, 1017, 942])}</Returncode>"
            f"<Scn>{rng.randint(10**6, 10**9)}</Scn>"
            f"<Object_Schema>{user}</Object_Schema><Object_Name>{obj}</Object_Name>"
            f"<Sql_Text>{sql}</Sql_Text><Sql_Bind>#1(5):{rng.randint(1, 99999)}</Sql_Bind>"
            "</AuditRecord>\n")


def _body(rng, pid, target, big):
    pad = 0 if not big else 1 + target // (MAX_RECORDS * 13)
    recs, size = [], len(HEADER) + len(FOOTER)
    while len(recs) < MAX_RECORDS:
        r = _record(rng, pid, pad if big else rng.randint(0, 3))
        if recs and size + len(r) > target:
            break
        recs.append(r)
        size += len(r)
    return HEADER + "".join(recs) + FOOTER


def generate(out_dir, seed, n, live_pid, prefix="", big_frac=0.0, trunc_frac=0.03,
             live_frac=0.25, mtime=None):
    """Write `n` audit files into `out_dir`; return [(name, truncated, size)].
    The big and truncated shares are exact and the sizes are stratified
    over the log-uniform range, so every seed gives about the same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    order = list(range(n))
    rng.shuffle(order)
    big = set(order[:round(big_frac * n)])
    rng.shuffle(order)
    trunc = set(order[:round(trunc_frac * n)])
    rng.shuffle(order)
    out = []
    for i in range(n):
        pid = live_pid if rng.random() < live_frac else rng.randint(5_000_000, 9_999_999)
        if i in big:
            target = CAP_BYTES - rng.randint(1024, 32768)
        else:
            target = int(2048 * 32 ** ((order[i] + rng.random()) / n))
        text = _body(rng, pid, target, i in big)
        if i in trunc:
            text = text[:int(len(text) * rng.uniform(0.3, 0.95))]
        name = f"{rng.choice(INSTANCES)}_ora_{pid}_{prefix}{seed:x}{i:06d}.xml"
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="ascii", newline="") as f:
            f.write(text)
        if mtime is not None:
            os.utime(path, (mtime, mtime))
        out.append((name, i in trunc, len(text)))
    return out
