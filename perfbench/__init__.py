"""Closed-loop benchmark for the ugfraud_spark engine (see README.md)."""
