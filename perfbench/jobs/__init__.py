"""Mapper and reducer for the ``verbs`` workload: max cost per location."""
