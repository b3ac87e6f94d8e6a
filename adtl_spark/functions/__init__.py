"""Scalar function library: date-format translation, canonical rendering,
unit conversion and the adtl ``apply`` transformation surface
(reference: src/adtl/transformations.py) re-expressed as native Spark SQL
expression text."""
