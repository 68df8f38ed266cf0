"""Plan lint for lambda bodies: an expensive per-row expression (a split, a
regex, a hash) over an OUTER column inside a higher-order function's lambda
runs again for every array element — O(n²) per row where a projection
below the lambda would run it once. Over the lambda's own variables it is
fine (minhash's and simhash's ``md5(x)``).

Reads the optimized logical plan as JSON: ``TreeNode.toJSON`` renders each
tree as a pre-order list of nodes carrying ``num-children``, and expression
fields of a node nest further such lists."""

from __future__ import annotations

import json

EXPENSIVE = ("StringSplit", "RLike", "Md5", "XxHash64", "Murmur3Hash")


def _name(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _is_tree(v) -> bool:
    return isinstance(v, list) and bool(v) and all(isinstance(x, dict) and "num-children" in x for x in v)


def _build(nodes: list[dict], i: int):
    """(node, children, next index) of the subtree rooted at ``nodes[i]``."""
    node, i = nodes[i], i + 1
    kids = []
    for _ in range(node["num-children"]):
        kid, i = _build(nodes, i)
        kids.append(kid)
    return (node, kids), i


def _trees(v):
    """Every tree rendered anywhere inside the JSON value ``v``."""
    if _is_tree(v):
        i = 0
        while i < len(v):
            tree, i = _build(v, i)
            yield tree
    elif isinstance(v, list):
        for x in v:
            yield from _trees(x)
    elif isinstance(v, dict):
        for x in v.values():
            yield from _trees(x)


def _is_expression(node: dict) -> bool:
    return node["class"].startswith("org.apache.spark.sql.catalyst.expressions.")


def _walk(tree):
    """Every (node, children) in ``tree``, and in the trees its fields hold.
    An expression's fields only re-render its children (CaseWhen's
    branches), so they are followed only into plans (a subquery's)."""
    node, kids = tree
    yield tree
    for t in _trees(list(node.values())):
        if not (_is_expression(node) and _is_expression(t[0])):
            yield from _walk(t)
    for kid in kids:
        yield from _walk(kid)


def lambda_violations(df) -> list[str]:
    """``<Expression> in a lambda over <columns>`` for each expensive
    expression a lambda body applies to an outer column of ``df``'s
    optimized plan; empty when the plan is clean."""
    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    out = set()
    for root in _trees(plan):
        for node, kids in _walk(root):
            if _name(node) != "LambdaFunction":
                continue
            for t in _walk(kids[0]):
                name = _name(t[0])
                if name in EXPENSIVE or name.startswith("RegExp"):
                    cols = sorted({n["name"] for n, _ in _walk(t) if _name(n) == "AttributeReference"})
                    if cols:
                        out.add(f"{name} in a lambda over {', '.join(cols)}")
    return sorted(out)
