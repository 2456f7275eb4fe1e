"""Closed-loop benchmark for the sparkflow engine (see README.md)."""
