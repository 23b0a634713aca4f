"""appendString (src/transformations/appendString.js): JS
`null + "_appended"` is "null_appended"."""


def process(record: dict) -> dict:
    value = "null" if record["value"] is None else record["value"]
    return {**record, "value": value + "_appended"}
