"""add10 (src/transformations/add10.js): JS `null + 10` is 10."""


def process(record: dict) -> dict:
    return {**record, "num": (0 if record["num"] is None else record["num"]) + 10}
