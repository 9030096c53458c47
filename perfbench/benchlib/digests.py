"""The output check: compare each query execution's digest (row count
plus order-independent row hash) with the committed expected digest."""
import json


def load(path):
    with open(path) as f:
        return json.load(f)


def check(expected, executions):
    """Failures among `executions`, each a dict with `name`, `pass`,
    `error`, `rows` and `hash`. An execution fails when it threw, when
    its query has no expected digest, or when its digest differs.
    Returns a list of (name, pass, reason)."""
    failures = []
    for x in executions:
        want = expected.get(x["name"])
        if x["error"] is not None:
            reason = f"threw {x['error']}"
        elif want is None:
            reason = "no expected digest"
        elif (x["rows"], x["hash"]) != (want["rows"], want["hash"]):
            reason = (f"digest {x['rows']} rows/{x['hash']} "
                      f"!= expected {want['rows']} rows/{want['hash']}")
        else:
            continue
        failures.append((x["name"], x["pass"], reason))
    return failures

