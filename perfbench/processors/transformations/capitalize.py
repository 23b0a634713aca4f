"""capitalize (src/transformations/capitalize.js): toUpperCase throws on a
null value, which sends the record to this step's DLQ."""


def process(record: dict) -> dict:
    return {**record, "value": record["value"].upper()}
